package graft.sources

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.StagingWrite
import org.apache.spark.sql.types._

/** Native reader (and minimal exporter) for the PUBLIC Apache Iceberg
  * table format (iceberg.apache.org/spec — format versions 1 and 2):
  * a `metadata/` directory of `v<N>.metadata.json` files, each
  * describing the table schema and the list of snapshots; every
  * snapshot points at an Avro *manifest list*, whose entries point at
  * Avro *manifest files*, whose entries are the snapshot's data
  * files. Unlike Delta there is NO log replay: a snapshot's manifest
  * list fully enumerates its live files, so time travel is "pick the
  * snapshot, read its lists".
  *
  * This is the Iceberg twin of [[DeltaLog]] (reference tables are
  * lakehouse-format managed tables, gold_transformation.py:57-62):
  *
  *  - [[snapshot]] / [[read]]: resolve a real Iceberg table at a
  *    snapshot id or timestamp and read it as a DataFrame through
  *    Spark's native parquet path.
  *  - [[write]], [[merge]] / [[mergeFlexible]], [[update]],
  *    [[rewriteDataFiles]], [[expireSnapshots]]: commits as new
  *    `v<N>.metadata.json` files any Iceberg reader can time-travel.
  *
  * Scale shape: `metadata.json` and the manifest LIST are one small
  * file each (bounded by snapshot count / manifest count, not data).
  * Manifest files — the actual file list, the only part that grows
  * with the table — are opened lazily and streamed entry-by-entry;
  * the result is the same bounded "live file list on the driver" that
  * [[DeltaLog.snapshot]] produces, and the data files themselves are
  * always read distributed by `spark.read.parquet`. (At true 100 TB
  * scale the manifest reads parallelize trivially — one task per
  * manifest — but a manifest holds thousands of entries, so the
  * driver-side stream stays proportional to file COUNT, as with
  * Delta checkpoints' live rows.)
  *
  * v2 merge-on-read DELETE FILES are supported at read: position
  * deletes (file_path/pos parquet) and equality deletes apply as
  * distributed anti-joins with the spec's sequence-number scoping
  * (see [[read]]).
  *
  * Unsupported (checked, explicit error — never silent wrong
  * results): format-version 3+, non-parquet files, nested
  * equality-delete columns, change feeds over delete-bearing
  * snapshots. Partition TRANSFORMS
  * need no gate: Iceberg data files always carry full rows (the
  * table schema's columns are all physically present — hidden
  * partitioning lives in metadata only), so a direct scan is correct
  * regardless of spec; we merely forgo manifest-level pruning.
  */
object IcebergTable {

  private val M = new ObjectMapper()

  /** One live data file of a snapshot. `seq` is its data sequence
    * number — the v2 ordering deletes are scoped against.
    * `partitionTuple` is the manifest-recorded identity-partition
    * tuple (column name → value; empty for unpartitioned tables) —
    * what partition-filtered scans prune on WITHOUT opening data
    * files. Identity-source columns are ALSO present in the data
    * files, per the Iceberg spec (unlike Hive layout). */
  final case class DataFile(path: String, format: String, records: Long,
                            sizeBytes: Long, seq: Long = 0L,
                            partitionTuple: Map[String, Any] = Map.empty,
                            valueCounts: Map[String, Long] = Map.empty,
                            nullCounts: Map[String, Long] = Map.empty,
                            bounds: Map[String, (BigDecimal, BigDecimal)] = Map.empty,
                            addedSnapshotId: Long = -1L,
                            specId: Int = 0,
                            firstRowId: Option[Long] = None)

  /** One v2 DELETE file (merge-on-read): `content` 1 = position
    * deletes (parquet of `file_path`/`pos`), 2 = equality deletes
    * (parquet of the equality columns); applies to data files per the
    * spec's sequence-number rules. `records`/`sizeBytes` from the
    * manifest feed statistics and executor-side partition planning.
    * `pathBounds` = the manifest's lower/upper bound of the delete
    * file's `file_path` column (spec field id 2147483546) — the
    * referenced-data-file range the spec records precisely so readers
    * can SCOPE position deletes per data file instead of attaching
    * every delete file to every partition. Bounds may be truncated
    * (lower ≤ all values, upper ≥ all values), so the containment
    * test stays sound; `None` (external writers that skipped stats)
    * means "may apply to any file". */
  final case class DeleteFile(path: String, content: Int, seq: Long,
                              equalityIds: Seq[Int], records: Long = 0L,
                              sizeBytes: Long = 0L,
                              pathBounds: Option[(String, String)] = None,
                              referencedDataFile: Option[String] = None,
                              contentOffset: Option[Long] = None,
                              contentSize: Option[Long] = None) {
    /** v3 DELETION VECTOR: a Puffin `deletion-vector-v1` blob at
      * `contentOffset` applying to exactly `referencedDataFile`. */
    def isDv: Boolean = contentOffset.isDefined
    /** May this POSITION delete file name `dataPath`? (content=2
      * equality deletes match by value — path bounds do not apply.)
      * A DV references exactly one file. Comparison is on UTF-8
      * bytes — the spec's bound ordering — not UTF-16 code units. */
    def mayReference(dataPath: String): Boolean =
      if (isDv) referencedDataFile.contains(dataPath)
      else content != 1 || pathBounds.forall { case (lo, hi) =>
        import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
        u8(lo).compareTo(u8(dataPath)) <= 0 &&
          u8(dataPath).compareTo(u8(hi)) <= 0
      }
  }

  /** A resolved Iceberg table state at one snapshot. `fieldNames`
    * maps top-level field ids to column names (equality-delete
    * resolution); `specFields` is the table's DEFAULT partition spec
    * (hidden-partitioning pruning consults its transforms). */
  final case class Snapshot(tablePath: String, snapshotId: Long,
                            timestampMs: Long, schema: StructType,
                            files: Seq[DataFile],
                            deletes: Seq[DeleteFile] = Seq.empty,
                            fieldNames: Map[Int, String] = Map.empty,
                            specFields: Seq[IcebergPartitioning.PartField] = Seq.empty,
                            defaultSpecId: Int = 0,
                            sortOrder: Seq[(String, Boolean)] = Seq.empty,
                            defaults: Map[Int, (Option[JsonNode], Option[JsonNode])] = Map.empty,
                            rowLineage: Boolean = false,
                            nestedDefaults: Seq[NestedDefault] = Seq.empty,
                            schemaId: Int = 0)

  /** A v3 column default carried by a NON-top-level field (spec v3
    * §Default values — e.g. `ADD COLUMN s.g INT DEFAULT 42` on a
    * foreign table): `path` names the field from the root in
    * CURRENT-schema names, `ids` is the parallel field-id chain
    * (top-level column first), `underCollection` marks a path that
    * crosses a list/map (un-fillable by struct projection — the read
    * refuses rather than serve silent NULLs). */
  final case class NestedDefault(path: Seq[String], ids: Seq[Int],
                                 dt: DataType, underCollection: Boolean,
                                 init: Option[JsonNode],
                                 write: Option[JsonNode])

  /** One manifest/metadata partition-spec field: the FIELD's name and
    * (result) type, the source column's field id, and the spec-JSON
    * transform name. */
  private[sources] final case class SpecField(name: String, dt: DataType,
                                              sourceId: Int,
                                              transform: String = "identity",
                                              fieldId: Int = -1)

  private def metaDir(tablePath: String) = new Path(tablePath, "metadata")

  private def fsFor(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest metadata file: the HIGHER of `version-hint.text` (the
    * HadoopTables convention) and the directory's highest
    * `v<N>.metadata.json`. The scan matters under concurrent writers:
    * hints are written AFTER the commit CAS, so two winners can land
    * their hints out of order and a hint-only reader would serve a
    * REGRESSED version until the next commit repaired it. The listing
    * is one driver metadata call — negligible against the reads it
    * guards. */
  private[sources] def latestMetadataFile(spark: SparkSession, tablePath: String): Path = {
    val dir = metaDir(tablePath)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"not an Iceberg table (no metadata dir): $tablePath")
    val hint = new Path(dir, "version-hint.text")
    val hinted: Option[Long] =
      if (!fs.exists(hint)) None
      else {
        val in = fs.open(hint)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        scala.util.Try(v.toLong).toOption
          .filter(n => fs.exists(new Path(dir, s"v$n.metadata.json")))
      }
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }
    val best = (hinted.toSeq ++ versions).sorted.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no v<N>.metadata.json under $dir"))
    new Path(dir, s"v$best.metadata.json")
  }

  /** A concurrent writer won the metadata version race and this
    * commit cannot REBASE past it — a true logical conflict (the
    * Iceberg twin of [[DeltaLog.CommitConflictException]]; real
    * Iceberg's commit.retry refuses the same classes). */
  final class CommitConflictException(val kind: String, msg: String)
    extends RuntimeException(s"$kind: $msg")

  /** Optimistic metadata CAS — the shared commit loop every
    * IcebergTable writer routes through. The HadoopTables protocol
    * makes the exclusive create of `v<N+1>.metadata.json` the
    * compare-and-swap; real Iceberg wraps it in commit.retry, which
    * RE-APPLIES the pending update against the refreshed base instead
    * of failing spuriously. `attempt` receives a DEEP COPY of the
    * current base metadata (None when the table does not exist yet)
    * and its version; it must
    *  1. re-validate its assumptions against the (possibly advanced)
    *     base — throwing [[CommitConflictException]] on a true
    *     logical conflict (schema changed under a DML, a file this
    *     commit rewrites no longer live, …),
    *  2. produce the new metadata root to write, regenerating the
    *     cheap driver-side artifacts (manifest list, manifests —
    *     snapshot/sequence numbers may have advanced) while reusing
    *     the attempt-invariant staged DATA files (whose names may
    *     embed the first attempt's snapshot id — cosmetic; manifests
    *     bind paths, not names),
    * and return (root to write, value to hand back — usually the new
    * snapshot id). On a lost race the loop re-reads and re-invokes. */
  private def casCommit(spark: SparkSession, tablePath: String,
                        maxRetries: Int = 10)
                       (attempt: (Option[ObjectNode], Long) => (ObjectNode, Long))
  : Long = {
    val mdir = metaDir(tablePath)
    val fs = fsFor(spark, mdir)
    var tries = 0
    while (true) {
      // the TRUE head from a directory scan, never the version hint:
      // a winner updates the hint only after its CAS, so a loser
      // re-reading through the hint would rebase against a stale base
      // and loop on the same taken version forever
      val versions =
        if (!fs.exists(mdir)) Array.empty[Long]
        else fs.globStatus(new Path(mdir, "v*.metadata.json"))
          .map(_.getPath.getName.stripPrefix("v")
            .stripSuffix(".metadata.json").toLong)
      val (metaVersion, base) =
        if (versions.nonEmpty) {
          val mv = versions.max
          val mp = new Path(mdir, s"v$mv.metadata.json")
          // the head file may be MID-WRITE by its winner (exclusive
          // create is atomic; content visibility is not) — poll until
          // it parses as a json object
          var node: JsonNode = null
          var waits = 0
          while (node == null) {
            node =
              try {
                val n = readJson(spark, mp)
                if (n != null && n.isObject) n else null
              } catch { case _: Exception => null }
            if (node == null) {
              waits += 1
              if (waits > 250) throw new IllegalStateException(
                s"metadata $mp stayed unreadable for 5s")
              Thread.sleep(20)
            }
          }
          (mv, Some(node.deepCopy[JsonNode]().asInstanceOf[ObjectNode]))
        } else (0L, None)
      // captured BEFORE the attempt mutates the copy: the spec's
      // `metadata-log` must gain an entry for the base file this
      // commit supersedes (metadata time travel for external engines)
      val prevLog: Seq[JsonNode] = base.toSeq.flatMap(b =>
        Option(b.get("metadata-log")).toSeq
          .flatMap(_.elements().asScala.map(_.deepCopy[JsonNode]())))
      val prevUpdated: Long = base.flatMap(b =>
        Option(b.get("last-updated-ms")).map(_.asLong()))
        .getOrElse(System.currentTimeMillis())
      val attempted =
        try Some(attempt(base, metaVersion))
        catch {
          // the attempt saw state it could not rebase onto yet (e.g.
          // the version hint lagging the scanned head) — rescan
          case RetryCommit => None
        }
      if (attempted.isEmpty) {
        tries += 1
        if (tries > maxRetries) throw new CommitConflictException(
          "CommitRetriesExhausted",
          s"$tablePath: could not observe a consistent base after " +
            s"$maxRetries rescans")
        Thread.sleep(20)
      } else {
      val (root, ret) = attempted.get
      // metadata-log: prior entries (bounded like
      // write.metadata.previous-versions-max's spirit) + the base file
      // this commit supersedes — whether the attempt mutated the base
      // in place or built a fresh root
      if (base.isDefined) {
        val logArr = M.createArrayNode()
        // bounded by write.metadata.previous-versions-max (default
        // 100 files = the new base + 99 log entries), the property
        // real Iceberg trims the metadata-log with
        val keepLog = Option(root.get("properties"))
          .flatMap(p => Option(p.get("write.metadata.previous-versions-max")))
          .flatMap(_.asText().trim.toIntOption).filter(_ >= 1)
          .map(_ - 1).getOrElse(99)
        prevLog.takeRight(keepLog).foreach(logArr.add)
        val e = logArr.addObject()
        e.put("metadata-file", fs.makeQualified(
          new Path(mdir, s"v$metaVersion.metadata.json")).toString)
        e.put("timestamp-ms", prevUpdated)
        root.set[JsonNode]("metadata-log", logArr)
      }
      // `statistics` survives rebuilt roots the way refs/properties
      // must — carried verbatim unless the attempt set it itself
      // (stale-but-bound stats are legal; losing them is not)
      base.foreach { b =>
        if (!root.has("statistics") && b.has("statistics"))
          root.set[JsonNode]("statistics", b.get("statistics").deepCopy())
      }
      val next = new Path(mdir, s"v${metaVersion + 1}.metadata.json")
      val created = AtomicCas.createExclusive(fs, next,
        M.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
      if (created) {
        val hintOut = fs.create(new Path(mdir, "version-hint.text"), true)
        try hintOut.write((metaVersion + 1).toString.getBytes("UTF-8"))
        finally hintOut.close()
        maybeReapMetadata(fs, mdir, root, metaVersion + 1)
        return ret
      }
      tries += 1
      if (tries > maxRetries) throw new CommitConflictException(
        "CommitRetriesExhausted",
        s"$tablePath: lost the metadata version race $maxRetries times " +
          "in a row")
      }
    }
    -1L // unreachable
  }

  /** POST-COMMIT metadata cleanup — real Iceberg's
    * `write.metadata.delete-after-commit.enabled` +
    * `write.metadata.previous-versions-max` (default 100): after a
    * won CAS, superseded `v<N>.metadata.json` files older than the
    * newest `max` are DELETED, so a per-micro-batch streaming sink's
    * `metadata/` directory stays bounded (the Iceberg twin of
    * [[DeltaLog.cleanupLog]]). Snapshots/manifests are untouched —
    * the CURRENT metadata file carries the whole snapshot history;
    * only metadata-FILE time travel into the reaped range is given
    * up, exactly the trade the property opts into. Reap failures are
    * swallowed: cleanup must never fail a committed write. */
  private def maybeReapMetadata(fs: org.apache.hadoop.fs.FileSystem,
                                mdir: Path, root: ObjectNode,
                                newVersion: Long): Unit = {
    def prop(k: String): Option[String] = Option(root.get("properties"))
      .flatMap(p => Option(p.get(k))).map(_.asText())
    if (!prop("write.metadata.delete-after-commit.enabled")
      .exists(_.trim.equalsIgnoreCase("true"))) return
    val keep = prop("write.metadata.previous-versions-max")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(100)
    val floor = newVersion - keep
    if (floor <= 0) return
    // NonFatal only: cleanup must never fail a committed write, but
    // it must not eat a cancellation either — restore the interrupt
    // flag so the task/driver sees it
    try fs.globStatus(new Path(mdir, "v*.metadata.json")).foreach { st =>
      val v = st.getPath.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toLong
      if (v < floor) fs.delete(st.getPath, false)
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
  }

  /** Internal rescan signal for [[casCommit]] attempts: the observed
    * auxiliary state (e.g. a hint-resolved snapshot) has not caught up
    * with the scanned metadata head — re-read and re-attempt. */
  private object RetryCommit
    extends RuntimeException with scala.util.control.NoStackTrace

  /** Read one metadata JSON. Under OPTIMISTIC concurrent writers the
    * newest `v<N>.metadata.json` may be visible but MID-WRITE (the
    * exclusive create is atomic; content visibility is not), so a
    * torn/empty parse polls briefly instead of crashing every
    * concurrent reader during a commit's microsecond write window;
    * a file that stays unreadable is a loud error, never a silent
    * fallback to stale state. */
  private def readJson(spark: SparkSession, p: Path): JsonNode = {
    val fs = fsFor(spark, p)
    var waits = 0
    while (true) {
      val node =
        try {
          val in = fs.open(p)
          val n = try M.readTree(in) finally in.close()
          if (n != null && n.isObject) n else null
        } catch {
          case fnf: java.io.FileNotFoundException => throw fnf
          // Jackson's parse errors are IOExceptions too
          case _: java.io.IOException => null
        }
      if (node != null) return node
      waits += 1
      if (waits > 100) throw new IllegalStateException(
        s"metadata $p stayed unreadable for 2s — torn write or corrupt file")
      Thread.sleep(20)
    }
    null // unreachable
  }

  // ---------------- Iceberg schema JSON <-> Spark ----------------

  private val DecimalRe = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
  private val FixedRe = "fixed\\[(\\d+)\\]".r

  /** Iceberg type JSON (string primitive or object) → Spark type. */
  private[sources] def icebergTypeToSpark(t: JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" => StringType
      case "uuid" => StringType
      case "binary" => BinaryType
      // v3 §Semi-structured types: Iceberg's variant uses the Parquet
      // Variant binary encoding — exactly what Spark's VariantType
      // reads/writes natively, so the scan serves it unconverted
      case "variant" => org.apache.spark.sql.types.VariantType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case FixedRe(_) => BinaryType
      case other => throw new UnsupportedOperationException(
        s"unsupported Iceberg type: $other")
    } else t.get("type").asText() match {
      case "struct" => StructType(
        t.get("fields").elements().asScala.map { f =>
          StructField(f.get("name").asText(), icebergTypeToSpark(f.get("type")),
            nullable = !f.get("required").asBoolean())
        }.toSeq)
      case "list" => ArrayType(icebergTypeToSpark(t.get("element")),
        containsNull = !t.get("element-required").asBoolean())
      case "map" => MapType(icebergTypeToSpark(t.get("key")),
        icebergTypeToSpark(t.get("value")),
        valueContainsNull = !t.get("value-required").asBoolean())
      case other => throw new UnsupportedOperationException(
        s"unsupported Iceberg type: $other")
    }

  /** Does `dt` contain Spark's VariantType anywhere — the v3-only
    * Iceberg type (spec v3 §Semi-structured types) that gates the
    * table's minimum format version. */
  private[sources] def containsVariant(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.VariantType => true
    case s: StructType => s.fields.exists(f => containsVariant(f.dataType))
    case a: ArrayType => containsVariant(a.elementType)
    case m: MapType => containsVariant(m.keyType) || containsVariant(m.valueType)
    case _ => false
  }

  /** Spark type → Iceberg type JSON node; `nextId` allocates the
    * spec-required unique field/element ids. */
  private def sparkTypeToIceberg(dt: DataType, nextId: () => Int): JsonNode =
    dt match {
      case BooleanType => M.getNodeFactory.textNode("boolean")
      case IntegerType | ShortType | ByteType => M.getNodeFactory.textNode("int")
      case LongType => M.getNodeFactory.textNode("long")
      case FloatType => M.getNodeFactory.textNode("float")
      case DoubleType => M.getNodeFactory.textNode("double")
      case DateType => M.getNodeFactory.textNode("date")
      case TimestampNTZType => M.getNodeFactory.textNode("timestamp")
      case TimestampType => M.getNodeFactory.textNode("timestamptz")
      case StringType => M.getNodeFactory.textNode("string")
      case BinaryType => M.getNodeFactory.textNode("binary")
      case _: org.apache.spark.sql.types.VariantType =>
        M.getNodeFactory.textNode("variant")
      case d: DecimalType =>
        M.getNodeFactory.textNode(s"decimal(${d.precision}, ${d.scale})")
      case s: StructType =>
        val o = M.createObjectNode()
        o.put("type", "struct")
        val arr = o.putArray("fields")
        s.fields.foreach { f =>
          val fo = arr.addObject()
          fo.put("id", nextId())
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          fo.set[JsonNode]("type", sparkTypeToIceberg(f.dataType, nextId))
        }
        o
      case a: ArrayType =>
        val o = M.createObjectNode()
        o.put("type", "list")
        o.put("element-id", nextId())
        o.put("element-required", !a.containsNull)
        o.set[JsonNode]("element", sparkTypeToIceberg(a.elementType, nextId))
        o
      case m: MapType =>
        val o = M.createObjectNode()
        o.put("type", "map")
        o.put("key-id", nextId())
        o.put("value-id", nextId())
        o.put("value-required", !m.valueContainsNull)
        o.set[JsonNode]("key", sparkTypeToIceberg(m.keyType, nextId))
        o.set[JsonNode]("value", sparkTypeToIceberg(m.valueType, nextId))
        o
      case other => throw new UnsupportedOperationException(
        s"cannot export Spark type $other to Iceberg")
    }

  // ---------------- Avro helpers ----------------

  /** Stream every record of an Avro file through `f` (reader uses the
    * file's embedded writer schema — robust to v1/v2 field layouts). */
  private def foreachAvro(spark: SparkSession, p: Path)(f: GenericRecord => Unit): Unit = {
    val fs = fsFor(spark, p)
    val in = fs.open(p)
    val stream = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try stream.iterator().asScala.foreach(f) finally { stream.close() }
  }

  private def fieldOpt(r: GenericRecord, names: String*): Option[AnyRef] =
    names.iterator.flatMap { n =>
      if (r.getSchema.getField(n) != null) Option(r.get(n)) else None
    }.toSeq.headOption

  private def longOf(v: AnyRef): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  // ---------------- snapshot resolution ----------------

  /** Bounded LRU of replayed snapshots, keyed by the METADATA FILE
    * that produced them (qualified path + length + mtime) plus the
    * as-of selectors. `v<N>.metadata.json` lands via exclusive create
    * under the commit CAS and is never rewritten, and everything a
    * replay reads besides it (manifest lists, manifests) is
    * UUID-named write-once Avro the metadata file references by
    * absolute path — so the same key always replays to the same
    * Snapshot. The key re-derives from a fresh `latestMetadataFile`
    * listing + getFileStatus on every call (len+mtime guard the
    * drop-table-recreate-same-path case), so the cache cannot serve
    * stale state under concurrent writers, metadata cleanup, RESTORE
    * or time travel. Every DML resolves the snapshot 2-4× at the same
    * version (plan, stage, commit gate, post-read) and each replay is
    * a driver-side Jackson+Avro walk of the whole manifest tree —
    * this is the Iceberg twin of [[DeltaLog]]'s segment-keyed cache.
    * Entries are metadata-sized (Snapshot case class); 16 bound the
    * driver footprint. */
  private val snapshotCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Snapshot](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Snapshot]): Boolean = size() > 16
      })

  /** Resolve the snapshot at `snapshotIdAsOf` (default: the table's
    * current snapshot), or the latest snapshot whose `timestamp-ms`
    * is <= `timestampAsOf`. Exactly one selector may be set. */
  def snapshot(spark: SparkSession, tablePath: String,
               snapshotIdAsOf: Option[Long] = None,
               timestampAsOf: Option[Long] = None): Snapshot = {
    require(snapshotIdAsOf.isEmpty || timestampAsOf.isEmpty,
      "set at most one of snapshotIdAsOf / timestampAsOf")
    val mf = latestMetadataFile(spark, tablePath)
    val st = fsFor(spark, mf).getFileStatus(mf)
    val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}#" +
      s"${snapshotIdAsOf.getOrElse(-1L)}#${timestampAsOf.getOrElse(-1L)}"
    val hit = snapshotCache.get(key)
    if (hit != null) return hit
    val snap = replaySnapshot(spark, tablePath, mf,
      snapshotIdAsOf, timestampAsOf)
    snapshotCache.put(key, snap)
    snap
  }

  private def replaySnapshot(spark: SparkSession, tablePath: String,
                             metaFile: Path,
                             snapshotIdAsOf: Option[Long],
                             timestampAsOf: Option[Long]): Snapshot = {
    val meta = readJson(spark, metaFile)
    val fv = meta.get("format-version").asInt()
    if (fv > 3) throw new UnsupportedOperationException(
      s"Iceberg format-version $fv is not supported (v1/v2/v3)")

    // schema: v2 keeps a `schemas` list keyed by schema-id (the
    // TABLE's current one by default; a snapshot may pin its own —
    // resolved after snapshot selection below); v1 has a single
    // top-level `schema`
    def schemaById(id: Int): JsonNode =
      if (meta.has("schemas"))
        meta.get("schemas").elements().asScala
          .find(n => n.has("schema-id") && n.get("schema-id").asInt() == id)
          .getOrElse(throw new IllegalStateException(
            s"schema-id $id not in schemas list"))
      else meta.get("schema")
    val currentSchemaId =
      if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt() else 0
    val schema = icebergTypeToSpark(schemaById(currentSchemaId))
      .asInstanceOf[StructType]

    // the DEFAULT partition spec, transforms included — what
    // hidden-partitioning pruning and append staging consult
    // (source ids resolve against the CURRENT schema)
    val defaultSpecId: Int =
      Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val defaultSpec: Seq[IcebergPartitioning.PartField] = {
      val curIds: Map[Int, String] =
        Option(schemaById(currentSchemaId).get("fields")).toSeq
          .flatMap(_.elements().asScala)
          .filter(f => f.has("id") && f.has("name"))
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      val fields: Seq[JsonNode] =
        Option(meta.get("partition-specs")).toSeq.flatMap(_.elements().asScala)
          .find(s => Option(s.get("spec-id")).exists(_.asInt() == defaultSpecId))
          .toSeq
          .flatMap(s => Option(s.get("fields")).toSeq
            .flatMap(_.elements().asScala)) match {
          case Seq() =>
            // legacy v1 layout: a single top-level `partition-spec`
            // array of fields (spec-id 0)
            Option(meta.get("partition-spec")).toSeq
              .flatMap(_.elements().asScala).toSeq
          case fs => fs
        }
      fields.flatMap { f =>
        val srcId = f.get("source-id").asInt()
        curIds.get(srcId).map(src => IcebergPartitioning.fromJson(
          f.get("name").asText(), f.get("transform").asText(), src,
          Option(f.get("field-id")).map(_.asInt()).getOrElse(-1)))
      }
    }
    // the DEFAULT sort order (spec §Sorting), as `(source column,
    // ascending)` pairs the writer can honor: order-id 0 is the
    // spec's "unsorted"; orders with non-identity transforms or
    // unresolvable source ids report EMPTY (the writer then skips
    // sorting — sound: sort orders are advisory for writes)
    val defaultSortOrder: Seq[(String, Boolean)] = {
      val soId = Option(meta.get("default-sort-order-id"))
        .map(_.asInt()).getOrElse(0)
      if (soId == 0) Seq.empty
      else {
        val curIds: Map[Int, String] =
          Option(schemaById(currentSchemaId).get("fields")).toSeq
            .flatMap(_.elements().asScala)
            .filter(f => f.has("id") && f.has("name"))
            .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
        val fields = Option(meta.get("sort-orders")).toSeq
          .flatMap(_.elements().asScala)
          .find(o => Option(o.get("order-id")).exists(_.asInt() == soId))
          .toSeq
          .flatMap(o => Option(o.get("fields")).toSeq
            .flatMap(_.elements().asScala))
        val parsed = fields.map { f =>
          val src = curIds.get(f.get("source-id").asInt())
          val identity = f.get("transform").asText() == "identity"
          src.filter(_ => identity)
            .map(n => (n, f.get("direction").asText() != "desc"))
        }
        if (parsed.nonEmpty && parsed.forall(_.isDefined)) parsed.map(_.get)
        else Seq.empty
      }
    }
    // Row lineage is a TABLE-level property (spec v3 §Row Lineage:
    // mandatory for format-version 3, witnessed by the `next-row-id`
    // counter) — NOT a per-file one. Gating on file entries breaks
    // after an id-preserving compaction: rewritten entries carry no
    // `first_row_id` (ids live as the materialized column), so a
    // file-based check would flip false and the NEXT rewrite would
    // silently re-key every row.
    val tableRowLineage = fv >= 3 && meta.has("next-row-id")
    val snaps = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
    if (snaps.isEmpty) return Snapshot(tablePath, -1L, 0L, schema, Seq.empty,
      specFields = defaultSpec, defaultSpecId = defaultSpecId,
      sortOrder = defaultSortOrder, rowLineage = tableRowLineage,
      schemaId = currentSchemaId)

    val chosen: JsonNode = (snapshotIdAsOf, timestampAsOf) match {
      case (Some(id), _) => snaps.find(_.get("snapshot-id").asLong() == id)
        .getOrElse(throw new IllegalArgumentException(
          s"snapshot $id not in ${tablePath}"))
      case (_, Some(ts)) =>
        val ok = snaps.filter(_.get("timestamp-ms").asLong() <= ts)
        require(ok.nonEmpty, s"no snapshot at or before timestamp $ts")
        ok.maxBy(_.get("timestamp-ms").asLong())
      case _ =>
        // optional in v1, and -1 is the spec's explicit "no current
        // snapshot" sentinel — both resolve to the empty snapshot,
        // matching the empty-snapshots branch above
        val cur = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
          .map(_.asLong()).getOrElse(-1L)
        if (cur == -1L) return Snapshot(tablePath, -1L, 0L, schema, Seq.empty,
          specFields = defaultSpec, defaultSpecId = defaultSpecId,
          sortOrder = defaultSortOrder, rowLineage = tableRowLineage,
          schemaId = currentSchemaId)
        snaps.find(_.get("snapshot-id").asLong() == cur)
          .getOrElse(throw new IllegalStateException(
            s"current-snapshot-id $cur not in snapshots list"))
    }
    val snapId = chosen.get("snapshot-id").asLong()
    val snapTs = chosen.get("timestamp-ms").asLong()
    // Iceberg scan-schema rule: a CURRENT read always uses the
    // table's current schema (so ALTER TABLE ADD COLUMN is visible
    // over old files, as null); a TIME-TRAVEL read uses the schema
    // the chosen snapshot pinned when it committed.
    val timeTravel = snapshotIdAsOf.isDefined || timestampAsOf.isDefined
    val snapSchemaId =
      if (timeTravel && chosen.has("schema-id") && meta.has("schemas"))
        chosen.get("schema-id").asInt()
      else currentSchemaId
    val snapSchemaNode = schemaById(snapSchemaId)
    val snapSchema =
      icebergTypeToSpark(snapSchemaNode).asInstanceOf[StructType]
    // top-level field-id → name, for equality-delete resolution
    val fieldNames: Map[Int, String] =
      Option(snapSchemaNode.get("fields")).toSeq
        .flatMap(_.elements().asScala)
        .filter(f => f.has("id") && f.has("name"))
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    // v3 COLUMN DEFAULTS (spec v3 §Default values): `initial-default`
    // serves the column for rows of files written BEFORE the field
    // existed; `write-default` fills it when a writer omits the
    // column. Pinned per schema era — time travel keeps each
    // snapshot's own defaults because this parse reads the SNAPSHOT's
    // schema node, not the table's current one.
    val fieldDefaults: Map[Int, (Option[JsonNode], Option[JsonNode])] =
      Option(snapSchemaNode.get("fields")).toSeq
        .flatMap(_.elements().asScala)
        .filter(f => f.has("id") &&
          (f.has("initial-default") || f.has("write-default")))
        .map(f => f.get("id").asInt() ->
          ((Option(f.get("initial-default")), Option(f.get("write-default")))))
        .toMap
    // …and the NESTED ones (any depth): a foreign v3 table may carry
    // `initial-default` on a struct's inner field — those must be
    // SERVED for pre-evolution files (or refused), never silently
    // read as NULL
    val nestedDefaults: Seq[NestedDefault] =
      collectNestedDefaults(snapSchemaNode)

    // v2 (and late v1): snapshot → manifest-list avro → manifest
    // paths, each with content (0=data 1=deletes) + sequence number.
    // early v1 alternative: inline `manifests` array on the snapshot.
    val manifests: Seq[(String, Int, Long, Long, Int)] =
      if (chosen.has("manifest-list")) {
        val buf = scala.collection.mutable.ArrayBuffer[(String, Int, Long, Long, Int)]()
        foreachAvro(spark, new Path(chosen.get("manifest-list").asText())) { r =>
          val content = fieldOpt(r, "content").map(longOf(_).toInt).getOrElse(0)
          val seq = fieldOpt(r, "sequence_number").map(longOf).getOrElse(0L)
          val addedBy = fieldOpt(r, "added_snapshot_id").map(longOf).getOrElse(-1L)
          val specId = fieldOpt(r, "partition_spec_id").map(longOf(_).toInt)
            .getOrElse(0)
          buf += ((r.get("manifest_path").toString, content, seq, addedBy,
            specId))
        }
        buf.toSeq
      } else chosen.get("manifests").elements().asScala
        .map(n => (n.asText(), 0, 0L, -1L, 0)).toSeq

    val files = scala.collection.mutable.ArrayBuffer[DataFile]()
    val deletes = scala.collection.mutable.ArrayBuffer[DeleteFile]()
    manifests.foreach { case (mp, mContent, mSeq, mAddedBy, mSpecId) =>
      foreachAvro(spark, new Path(mp)) { entry =>
        val status = longOf(entry.get("status")).toInt // 0 existing 1 added 2 deleted
        if (status != 2) {
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val content = fieldOpt(df, "content").map(longOf(_).toInt).getOrElse(0)
          val fmt = df.get("file_format").toString
          // PUFFIN is legal only for v3 deletion-vector entries
          // (content=1 with a referenced_data_file); ORC and AVRO are
          // served for DATA files (ORC through Spark's native source,
          // AVRO through the avro-core decoder — footer stats degrade,
          // never wrong), while DELETE files stay parquet (the spec's
          // own delete-file encoding)
          if (!fmt.equalsIgnoreCase("parquet") &&
            !((fmt.equalsIgnoreCase("orc") || fmt.equalsIgnoreCase("avro"))
              && content == 0) &&
            !(fmt.equalsIgnoreCase("puffin") && content == 1 &&
              fieldOpt(df, "referenced_data_file").isDefined))
            throw new UnsupportedOperationException(
              s"Iceberg file format $fmt (content=$content) is not " +
                "supported — parquet everywhere, orc/avro for data files")
          // sequence number: explicit on the entry, inherited from
          // the manifest-list row otherwise (the v2 inheritance rule)
          val seq = fieldOpt(entry, "sequence_number").map(longOf)
            .getOrElse(mSeq)
          // adding snapshot: explicit on the entry, inherited from the
          // manifest-list row's added_snapshot_id otherwise
          val addedBy = fieldOpt(entry, "snapshot_id").map(longOf)
            .getOrElse(mAddedBy)
          if (mContent == 0) {
            if (content != 0) throw new UnsupportedOperationException(
              s"delete file (content=$content) inside a DATA manifest: $mp")
            // identity-partition tuple (generic: whatever fields the
            // writer's spec declared ride in the r102 record)
            val pt: Map[String, Any] = df.get("partition") match {
              case r: GenericRecord => r.getSchema.getFields.asScala
                .flatMap { f =>
                  Option(r.get(f.name())).map {
                    case u: org.apache.avro.util.Utf8 => f.name() -> u.toString
                    case v => f.name() -> v
                  }
                }.toMap
              case _ => Map.empty
            }
            // column stats maps (field-id keyed k_v arrays) → by name
            def kvLongMap(name: String): Map[Int, Long] =
              fieldOpt(df, name).collect {
                case a: java.util.Collection[_] => a.asScala.collect {
                  case r: GenericRecord =>
                    longOf(r.get("key")).toInt -> longOf(r.get("value"))
                }.toMap
              }.getOrElse(Map.empty)
            def kvBytesMap(name: String): Map[Int, Array[Byte]] =
              fieldOpt(df, name).collect {
                case a: java.util.Collection[_] => a.asScala.collect {
                  case r: GenericRecord =>
                    val bytes = r.get("value") match {
                      case b: java.nio.ByteBuffer =>
                        val arr = new Array[Byte](b.remaining())
                        b.duplicate().get(arr); arr
                      case b: Array[Byte] => b
                      case other => throw new IllegalStateException(
                        s"unexpected bound value $other")
                    }
                    longOf(r.get("key")).toInt -> bytes
                }.toMap
              }.getOrElse(Map.empty)
            def named[T](m: Map[Int, T]): Map[String, T] =
              m.flatMap { case (id, v) => fieldNames.get(id).map(_ -> v) }
            val lo = named(kvBytesMap("lower_bounds"))
            val hi = named(kvBytesMap("upper_bounds"))
            val bounds = lo.keySet.intersect(hi.keySet).flatMap { n =>
              snapSchema.find(_.name == n).flatMap(f =>
                for (l <- boundValue(f.dataType, lo(n));
                     h <- boundValue(f.dataType, hi(n))) yield n -> ((l, h)))
            }.toMap
            files += DataFile(df.get("file_path").toString, fmt,
              longOf(df.get("record_count")),
              fieldOpt(df, "file_size_in_bytes").map(longOf).getOrElse(0L),
              seq, pt, named(kvLongMap("value_counts")),
              named(kvLongMap("null_value_counts")), bounds,
              addedSnapshotId = addedBy, specId = mSpecId,
              firstRowId = fieldOpt(df, "first_row_id").map(longOf))
          } else { // delete manifest: position (1) or equality (2)
            if (content != 1 && content != 2)
              throw new UnsupportedOperationException(
                s"unexpected content=$content in delete manifest $mp")
            val eqIds = fieldOpt(df, "equality_ids").map {
              case a: java.util.Collection[_] =>
                a.asScala.toSeq.map(v => longOf(v.asInstanceOf[AnyRef]).toInt)
              case other => throw new IllegalStateException(
                s"bad equality_ids $other")
            }.getOrElse(Seq.empty)
            if (content == 2) {
              require(eqIds.nonEmpty,
                s"equality delete file without equality_ids in $mp")
              eqIds.foreach(id => require(fieldNames.contains(id),
                s"equality_ids field $id is not a top-level column — " +
                  "nested equality deletes are not supported"))
            }
            // position-delete file_path bounds (spec field 2147483546)
            // — the referenced-data-file range readers scope on
            def pathBound(field: String): Option[String] =
              fieldOpt(df, field).collect {
                case a: java.util.Collection[_] => a.asScala.collectFirst {
                  case r: GenericRecord
                    if longOf(r.get("key")) == 2147483546L =>
                    r.get("value") match {
                      case b: java.nio.ByteBuffer =>
                        val arr = new Array[Byte](b.remaining())
                        b.duplicate().get(arr)
                        new String(arr, "UTF-8")
                      case b: Array[Byte] => new String(b, "UTF-8")
                      case other => other.toString
                    }
                }
              }.flatten
            val pathBounds =
              if (content != 1) None
              else for (lo <- pathBound("lower_bounds");
                        hi <- pathBound("upper_bounds")) yield (lo, hi)
            deletes += DeleteFile(df.get("file_path").toString, content,
              seq, eqIds, longOf(df.get("record_count")),
              fieldOpt(df, "file_size_in_bytes").map(longOf).getOrElse(0L),
              pathBounds,
              fieldOpt(df, "referenced_data_file").map(_.toString),
              fieldOpt(df, "content_offset").map(longOf),
              fieldOpt(df, "content_size_in_bytes").map(longOf))
          }
        }
      }
    }
    Snapshot(tablePath, snapId, snapTs, snapSchema, files.toSeq,
      deletes.toSeq, fieldNames, defaultSpec, defaultSpecId,
      defaultSortOrder, fieldDefaults, tableRowLineage, nestedDefaults,
      snapSchemaId)
  }

  /** id→name maps of every schema era, plus snapshot-id→schema-id —
    * the history [[rawFrame]] resolves renamed/re-added columns
    * through. */
  /** `schema.name-mapping.default` (spec §Name Mapping
    * Serialization), parsed to (top-level field-id → first mapped
    * name, ALL mapped ids incl. nested). The mapping is how
    * field-id-less ADOPTED files (CONVERT TO ICEBERG / migrate /
    * add_files) stay resolvable after schema evolution: it pins the
    * PHYSICAL name each field id had at adoption. */
  private def parseNameMapping(meta: JsonNode)
  : Option[(Map[Int, String], Set[Int])] = {
    val prop = Option(meta.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .map(_.asText()).filter(_.nonEmpty)
    prop.map { js =>
      val arr = M.readTree(js)
      val top = scala.collection.mutable.Map[Int, String]()
      val all = scala.collection.mutable.Set[Int]()
      def walk(node: JsonNode, topLevel: Boolean): Unit =
        node.elements().asScala.foreach { e =>
          val id = Option(e.get("field-id")).map(_.asInt())
          val names = Option(e.get("names")).toSeq
            .flatMap(_.elements().asScala.map(_.asText()))
          id.foreach { i =>
            all += i
            if (topLevel && names.nonEmpty) top += i -> names.head
          }
          Option(e.get("fields")).foreach(walk(_, topLevel = false))
        }
      walk(arr, topLevel = true)
      (top.toMap, all.toSet)
    }
  }

  private def schemaEras(spark: SparkSession, tablePath: String)
  : (Map[Int, Map[Int, String]], Map[Long, Int], Map[Int, Set[Int]],
    Map[Int, Map[Int, (Int, String)]],
    Option[(Map[Int, String], Set[Int])]) = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    val schemaNodes: Seq[JsonNode] =
      if (meta.has("schemas")) meta.get("schemas").elements().asScala.toSeq
      else Option(meta.get("schema")).toSeq
    val byId: Map[Int, Map[Int, String]] = schemaNodes.map { s =>
      val sid = Option(s.get("schema-id")).map(_.asInt()).getOrElse(0)
      sid -> Option(s.get("fields")).toSeq.flatMap(_.elements().asScala)
        .filter(f => f.has("id") && f.has("name"))
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    }.toMap
    // EVERY field id of each era, nested included — what decides
    // whether a file's era already HAD a nested defaulted field (its
    // stored values serve) or predates it (the default serves)
    val idsByEra: Map[Int, Set[Int]] = schemaNodes.map { s =>
      val sid = Option(s.get("schema-id")).map(_.asInt()).getOrElse(0)
      sid -> allFieldIds(s)
    }.toMap
    // nested id → physical location per era — what detects NESTED
    // renames / drop-re-adds (which name-based parquet struct
    // resolution would silently misread for pre-evolution files)
    val nestedByEra: Map[Int, Map[Int, (Int, String)]] = schemaNodes.map { s =>
      val sid = Option(s.get("schema-id")).map(_.asInt()).getOrElse(0)
      sid -> nestedLocs(s)
    }.toMap
    val snapToSchema: Map[Long, Int] = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(s => Option(s.get("schema-id"))
        .map(x => s.get("snapshot-id").asLong() -> x.asInt()))
      .toMap
    (byId, snapToSchema, idsByEra, nestedByEra, parseNameMapping(meta))
  }

  /** Non-top-level field id → (owning TOP-LEVEL field id, dotted path
    * BELOW the top level; list/map components as element/key/value).
    * The top-level component is excluded on purpose: top-level
    * renames are resolved by the era projection, while the names
    * below it are what the parquet reader matches physically. */
  private def nestedLocs(s: JsonNode): Map[Int, (Int, String)] = {
    val out = scala.collection.mutable.Map[Int, (Int, String)]()
    def walk(t: JsonNode, topId: Int, sub: Seq[String]): Unit = {
      if (t == null || !t.isObject) return
      if (t.has("fields")) {
        t.get("fields").elements().asScala.foreach { f =>
          if (f.has("id") && f.has("name")) {
            val p = sub :+ f.get("name").asText()
            out += f.get("id").asInt() -> ((topId, p.mkString(".")))
            walk(nodeType(f), topId, p)
          }
        }
      } else Option(t.get("type")).filter(_.isTextual).map(_.asText()) match {
        case Some("list") =>
          Option(t.get("element-id")).map(_.asInt()).foreach(id =>
            out += id -> ((topId, (sub :+ "element").mkString("."))))
          walk(nodeType2(t, "element"), topId, sub :+ "element")
        case Some("map") =>
          Option(t.get("key-id")).map(_.asInt()).foreach(id =>
            out += id -> ((topId, (sub :+ "key").mkString("."))))
          Option(t.get("value-id")).map(_.asInt()).foreach(id =>
            out += id -> ((topId, (sub :+ "value").mkString("."))))
          walk(nodeType2(t, "key"), topId, sub :+ "key")
          walk(nodeType2(t, "value"), topId, sub :+ "value")
        case _ =>
      }
    }
    Option(s.get("fields")).toSeq.flatMap(_.elements().asScala).foreach { f =>
      if (f.has("id")) walk(nodeType(f), f.get("id").asInt(), Nil)
    }
    out.toMap
  }

  /** Every field id reachable in an Iceberg schema/type JSON node —
    * struct fields at any depth plus list `element-id` and map
    * `key-id`/`value-id`. */
  private def allFieldIds(t: JsonNode): Set[Int] = {
    if (t == null || !t.isObject) return Set.empty
    Option(t.get("type")).map(x =>
      if (x.isTextual) x.asText() else "") match {
      case _ if t.has("fields") =>
        Option(t.get("fields")).toSeq.flatMap(_.elements().asScala)
          .flatMap(f => Option(f.get("id")).map(_.asInt()).toSet ++
            allFieldIds(nodeType(f))).toSet
      case Some("list") =>
        Option(t.get("element-id")).map(_.asInt()).toSet ++
          allFieldIds(nodeType2(t, "element"))
      case Some("map") =>
        Option(t.get("key-id")).map(_.asInt()).toSet ++
          Option(t.get("value-id")).map(_.asInt()).toSet ++
          allFieldIds(nodeType2(t, "key")) ++ allFieldIds(nodeType2(t, "value"))
      case _ => Set.empty
    }
  }
  private def nodeType(f: JsonNode): JsonNode = {
    val t = f.get("type")
    if (t != null && t.isObject) t else null
  }
  private def nodeType2(t: JsonNode, k: String): JsonNode = {
    val x = t.get(k)
    if (x != null && x.isObject) x else null
  }

  /** Walk a schema node collecting [[NestedDefault]]s — every
    * non-top-level struct field that carries an `initial-default` or
    * `write-default` (spec v3 §Default values), with its name path,
    * id chain, and whether the path crosses a list/map. */
  private def collectNestedDefaults(schemaNode: JsonNode): Seq[NestedDefault] = {
    val out = scala.collection.mutable.ArrayBuffer[NestedDefault]()
    def walk(t: JsonNode, path: Seq[String], ids: Seq[Int],
             underColl: Boolean): Unit = {
      if (t == null || !t.isObject) return
      if (t.has("fields")) {
        t.get("fields").elements().asScala.foreach { f =>
          if (f.has("id") && f.has("name")) {
            val p = path :+ f.get("name").asText()
            val is = ids :+ f.get("id").asInt()
            if (p.length > 1 &&
              (f.has("initial-default") || f.has("write-default")))
              out += NestedDefault(p, is, icebergTypeToSpark(f.get("type")),
                underColl,
                Option(f.get("initial-default")).filterNot(_.isNull),
                Option(f.get("write-default")).filterNot(_.isNull))
            walk(nodeType(f), p, is, underColl)
          }
        }
      } else Option(t.get("type")).filter(_.isTextual).map(_.asText()) match {
        case Some("list") =>
          walk(nodeType2(t, "element"), path :+ "element",
            ids ++ Option(t.get("element-id")).map(_.asInt()), underColl = true)
        case Some("map") =>
          walk(nodeType2(t, "key"), path :+ "key",
            ids ++ Option(t.get("key-id")).map(_.asInt()), underColl = true)
          walk(nodeType2(t, "value"), path :+ "value",
            ids ++ Option(t.get("value-id")).map(_.asInt()), underColl = true)
        case _ =>
      }
    }
    walk(schemaNode, Nil, Nil, underColl = false)
    out.toSeq
  }

  /** The table's v3 `next-row-id` counter (-1 when absent / pre-v3) —
    * the row-lineage watermark appends claim ranges from. */
  def nextRowId(spark: SparkSession, tablePath: String): Long = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("next-row-id")).map(_.asLong()).getOrElse(-1L)
  }

  /** Spec v3 reserved field ids of the materialized row-lineage
    * columns `_row_id` / `_last_updated_sequence_number` (§Row
    * Lineage / §Reserved field ids) — used to thread the optional
    * physical columns through the era-aware scan without colliding
    * with any table field id. */
  private val RowIdFieldId: Int = 2147483540
  private val LastUpdatedSeqFieldId: Int = 2147483539
  private val LineageCols = Seq("_row_id", "_last_updated_sequence_number")

  /** `snap` widened with the OPTIONAL materialized row-lineage
    * columns (nullable longs): files that carry them (id-preserving
    * rewrites) serve their values, files that don't read null — the
    * caller coalesces with the inherited forms (`first_row_id +
    * position`, the file's data sequence number). */
  private def withRowIdColumn(snap: Snapshot): Snapshot = snap.copy(
    schema = snap.schema
      .add("_row_id", LongType, nullable = true)
      .add("_last_updated_sequence_number", LongType, nullable = true),
    fieldNames = snap.fieldNames + (RowIdFieldId -> "_row_id") +
      (LastUpdatedSeqFieldId -> "_last_updated_sequence_number"))

  /** Iceberg JSON single-value (spec §"JSON single-value
    * serialization") → a Spark literal Column of `dt` — how a
    * `initial-default` / `write-default` becomes a projected value.
    * Unsupported combinations refuse loudly, never serve a wrong
    * default. */
  private[sources] def defaultLiteral(dt: DataType,
                                      v: JsonNode): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    if (v == null || v.isNull) return lit(null).cast(dt)
    dt match {
      case BooleanType => lit(v.asBoolean())
      case IntegerType => lit(v.asInt())
      case LongType => lit(v.asLong())
      case FloatType => lit(v.floatValue())
      case DoubleType => lit(v.asDouble())
      case StringType => lit(v.asText())
      case d: DecimalType =>
        lit(new java.math.BigDecimal(v.asText())).cast(d)
      case DateType => lit(java.time.LocalDate.parse(v.asText()))
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.parse(v.asText()))
      case TimestampType =>
        lit(java.time.OffsetDateTime.parse(v.asText()).toInstant)
      case BinaryType =>
        val h = v.asText()
        require(h.length % 2 == 0, s"odd-length hex default: $h")
        lit(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      case other => throw new UnsupportedOperationException(
        s"column default for type $other is not supported")
    }
  }

  /** Read `files` with SCHEMA-EVOLUTION-AWARE projection: each file's
    * columns resolve by FIELD ID against the schema era the file was
    * written under (the snapshot that added it pins a schema-id) —
    * so a RENAMED column reads its old physical name from old files,
    * and a DROPPED-then-re-ADDED name never resurrects old values
    * (different field id ⇒ null). The history-based equivalent of
    * parquet field-id resolution; files with unknown eras read
    * name-based, exactly as before. `withPos` appends the
    * `__ri`/`__path` physical-position columns the delete-application
    * frame joins on. */
  private def rawFrame(spark: SparkSession, snap: Snapshot,
                       files: Seq[DataFile], withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) {
      val extra =
        if (withPos) Seq(StructField("__ri", LongType),
          StructField("__path", StringType))
        else Nil
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema.fields ++ extra))
    }
    val byName = snap.fieldNames.map(_.swap)
    val current: Seq[(String, Int, DataType)] = snap.schema.fields.toSeq
      .map(f => (f.name, byName.getOrElse(f.name, -1), f.dataType))
    // v3 initial-defaults of the CURRENT fields, as ready literals
    val initDef: Map[Int, org.apache.spark.sql.Column] = current.flatMap {
      case (_, id, dt) => snap.defaults.get(id).flatMap(_._1)
        .map(v => id -> defaultLiteral(dt, v))
    }.toMap
    // v3 initial-defaults on NESTED fields (struct inner fields):
    // files whose era predates the field must serve the default —
    // filled by withField after the scan, or refused when the path
    // crosses a collection (no silent NULLs, ever)
    val nestedInit: Seq[NestedDefault] =
      snap.nestedDefaults.filter(_.init.nonEmpty)
    lazy val (eras, snapToSchema, idsByEra, nestedByEra, nameMapping) =
      schemaEras(spark, snap.tablePath)
    // NESTED schema drift between a file's era and the read schema:
    // the parquet reader matches struct-inner fields BY NAME, so a
    // renamed nested field would silently read null and a
    // dropped-then-re-added nested name would silently RESURRECT the
    // old physical values — both refuse loudly (top-level drift is
    // served by the era projection; nothing below it can be)
    lazy val curNested: Map[Int, (Int, String)] =
      nestedByEra.getOrElse(snap.schemaId, Map.empty)
    def nestedDrift(sid: Int): Boolean = {
      if (sid == snap.schemaId) return false
      val en = nestedByEra.getOrElse(sid, Map.empty)
      en.exists { case (id, loc) => curNested.get(id).exists(_ != loc) } ||
        curNested.exists { case (id, loc) => !en.contains(id) &&
          en.exists { case (id2, l2) => id2 != id && l2 == loc } }
    }
    lazy val anyNestedDrift: Boolean = nestedByEra.keys.exists(nestedDrift)
    // does ANY schema era disagree with the read schema — renamed
    // shared ids, a current name under a different id (re-add), or a
    // DEFAULTED current field (top-level or nested) the era lacks
    // (its files must serve the initial-default, not null — era
    // resolution becomes mandatory)?
    lazy val unsafeEraExists: Boolean = eras.values.exists(m =>
      current.exists { case (n, id, _) => m.get(id) match {
        case Some(e) => e != n
        case None => m.valuesIterator.contains(n) || initDef.contains(id)
      } }) ||
      nestedInit.exists(nd => idsByEra.values.exists(s => !s(nd.ids.last))) ||
      anyNestedDrift
    // the nested defaults a file of era `sid` must have FILLED: the
    // field is absent from that era while its whole ancestor chain is
    // present (an absent ancestor means the ancestor's own default /
    // null governs and the inner one never surfaces)
    def nestedFillsOf(f: DataFile, sid: Option[Int]): Seq[NestedDefault] = {
      if (nestedInit.isEmpty) return Seq.empty
      // the adopted-files name mapping pins which ids existed at
      // adoption — the era-equivalent id set for era-less files
      val eraIds: Option[Set[Int]] = sid.flatMap(idsByEra.get)
        .orElse(nameMapping.map(_._2))
      eraIds match {
        case None =>
          // era unresolvable with nested defaults in play: even when
          // every RECORDED era contains the defaulted field (the
          // lacking era expired/pruned), this file may predate it —
          // an identity read would serve NULL where the
          // initial-default is owed. No silent NULLs: refuse loudly
          // (same shape as projOf's rename gate, which fires first
          // when unsafeEraExists)
          if (!unsafeEraExists)
            throw new UnsupportedOperationException(
              s"cannot resolve the schema era of ${f.path} (its adding " +
                s"snapshot is unknown/expired) on ${snap.tablePath}, " +
                "which carries defaulted NESTED fields — the file may " +
                "predate them and owe the initial-default; rewrite the " +
                "data (OPTIMIZE / overwrite) to materialize it")
          Seq.empty // projOf's refusal fires first
        case Some(s) =>
          val fills = nestedInit.filter(nd =>
            !s(nd.ids.last) && nd.ids.init.forall(s))
          fills.filter(_.underCollection).foreach { nd =>
            throw new UnsupportedOperationException(
              s"${f.path} predates the defaulted field " +
                s"${nd.path.mkString(".")} of ${snap.tablePath}, whose " +
                "path crosses a list/map — serving that default is not " +
                "supported; rewrite the data (OPTIMIZE / overwrite) to " +
                "materialize it")
          }
          fills.foreach(nd =>
            require(nd.path.forall(p => !p.contains(".") && !p.contains("`")),
              s"cannot fill defaulted nested field ${nd.path.mkString("/")}" +
                " (names with '.' or '`' are not supported)"))
          fills
      }
    }
    // HIVE-ADOPTED identity partitions: a current column ABSENT from
    // a file's era but carried as an IDENTITY partition value in its
    // manifest tuple is served from the adopted hive directory
    // layout — the group scans with `basePath`, so Spark's
    // path-partition machinery materializes the column with the
    // requested type (it never lived in those files). Dir names are
    // the SPEC FIELD's name, pinned at adoption: renaming the source
    // column later keeps serving (the projection aliases dir name →
    // current name).
    val hiveSrc: Map[String, String] = snap.specFields
      .filter(_.isIdentity).map(pf => pf.source -> pf.name).toMap
    def projOf(f: DataFile): (Option[Seq[(String, Int, DataType, Option[String])]], Seq[NestedDefault], Boolean) = {
      val sid: Option[Int] =
        if (f.addedSnapshotId < 0) None
        else snapToSchema.get(f.addedSnapshotId)
      // era-less files (adopted field-id-less parquet, expired
      // snapshots) resolve through `schema.name-mapping.default`
      // when the table carries one — the spec's pinned physical
      // name per field id at adoption time
      val era = sid.flatMap(eras.get).orElse(nameMapping.map(_._1))
      // a file whose era cannot be resolved (expired snapshot, v1
      // entry without schema-id) on a RENAMED/RE-ADDED table is
      // ambiguous — name-based reading could serve nulls or stale
      // values silently; refuse loudly instead
      if (era.isEmpty && unsafeEraExists)
        throw new UnsupportedOperationException(
          s"cannot resolve the schema era of ${f.path} (its adding " +
            s"snapshot is unknown/expired) on ${snap.tablePath}, whose " +
            "columns were renamed or re-added — name-based reading would " +
            "be ambiguous; rewrite the data (OPTIMIZE / overwrite) to " +
            "materialize the current names")
      if (sid.exists(nestedDrift))
        throw new UnsupportedOperationException(
          s"${f.path} was written under a schema era whose NESTED " +
            s"fields were since renamed or re-added on ${snap.tablePath}" +
            " — struct-inner parquet resolution is name-based, so " +
            "reading it would serve nulls or stale values silently; " +
            "rewrite the data (OPTIMIZE / overwrite) to materialize " +
            "the current nested names")
      val hiveBase = era.exists { m =>
        current.exists { case (n, id, _) =>
          !m.contains(id) && hiveSrc.get(n)
            .exists(f.partitionTuple.contains) }
      }
      val proj = era.flatMap { m =>
        // the reserved materialized row-lineage columns resolve by
        // their own names in EVERY era (they never rename; files
        // lacking them read null) — without this, a renamed-column
        // table's projection path would null out preserved ids
        val p = current.map { case (n, id, dt) =>
          (n, id, dt,
            if (id == RowIdFieldId || id == LastUpdatedSeqFieldId) Some(n)
            else m.get(id).orElse(
              // hive-adopted identity column: read under the DIR name
              if (hiveSrc.get(n).exists(f.partitionTuple.contains))
                Some(hiveSrc(n))
              else None)) }
        // identity projection reads plainly — ADD-only evolution stays
        // on the untouched path (a missing column is null either way).
        // NOT identity when a field id renamed, OR when a current name
        // exists in the era under a DIFFERENT id (drop + re-add: the
        // old physical column must NOT resurrect — it reads null), OR
        // when a missing field carries an initial-default (the
        // projection must materialize it).
        val identitySafe = p.forall {
          case (n, _, _, Some(e)) => e == n
          case (n, id, _, None) =>
            !m.valuesIterator.contains(n) && !initDef.contains(id)
        }
        if (identitySafe) None else Some(p)
      }
      (proj, nestedFillsOf(f, sid), hiveBase)
    }
    // per-group FORMAT dispatch: ORC data files scan through Spark's
    // native ORC source, AVRO data files through the avro-core
    // decoder (aligned to the requested struct: present columns cast,
    // missing columns null — parquet's missing-column behavior).
    // Neither has `_metadata.row_index`, so position-based frames
    // (MOR delete application, row lineage, DML match detection)
    // cannot be served over them — refuse loudly; OPTIMIZE rewrites
    // to parquet and lifts the restriction.
    def scanOf(schema: StructType, fmt: String, paths: Seq[String],
               hiveBase: Boolean = false) = {
      if (withPos && fmt != "parquet")
        throw new UnsupportedOperationException(
          s"position-based read over $fmt data files of " +
            s"${snap.tablePath} is not supported ($fmt has no " +
            "row-index metadata column) — OPTIMIZE / rewriteDataFiles " +
            "to parquet first")
      // hive-adopted groups scan with basePath so path-partition
      // columns materialize (requested-schema typed, no inference)
      def rd = {
        val r = spark.read.schema(schema)
        if (hiveBase) r.option("basePath", snap.tablePath) else r
      }
      if (fmt == "orc") rd.orc(paths: _*)
      else if (fmt == "avro") {
        if (hiveBase) throw new UnsupportedOperationException(
          s"hive-layout identity partitions over avro data files of " +
            s"${snap.tablePath} are not supported — OPTIMIZE to parquet")
        val raw = AvroFiles.readFiles(spark, paths)
        val have = raw.columns.toSet
        raw.select(schema.fields.toSeq.map(f =>
          if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }
      else rd.parquet(paths: _*)
    }
    def fmtOf(f: DataFile): String =
      f.format.toLowerCase(java.util.Locale.ROOT)
    def withMeta(df: DataFrame): DataFrame =
      if (!withPos) df
      else df.select(col("*"), col("_metadata.row_index").as("__ri"))
        .withColumn("__path",
          regexp_replace(input_file_name(), "^[a-zA-Z0-9]+:(//)?", ""))
    // materialize this group's nested initial-defaults INTO the read
    // struct (after era names resolved to current ones): every file
    // here predates the field, so the stored value is uniformly
    // absent — withField replaces the schema-evolution NULL with the
    // default; a NULL parent struct stays NULL (the spec's rule:
    // defaults fill fields of existing rows, not missing rows)
    def applyNested(df: DataFrame, fills: Seq[NestedDefault]): DataFrame =
      fills.foldLeft(df) { (d, nd) =>
        d.withColumn(nd.path.head,
          col(nd.path.head).withField(nd.path.tail.mkString("."),
            defaultLiteral(nd.dt, nd.init.get)))
      }
    files.groupBy(f => (projOf(f), fmtOf(f))).toSeq
      .sortBy(_._2.head.path).map {
      case (((None, fills, hb), fmt), fs) =>
        applyNested(
          withMeta(scanOf(snap.schema, fmt, fs.map(_.path), hb)), fills)
      case (((Some(p), fills, hb), fmt), fs) =>
        // era columns DEDUPED: a hive dir name can equal an era
        // physical name only through the alias map, never twice
        val eraStruct = StructType(p.collect {
          case (_, _, dt, Some(e)) => StructField(e, dt, nullable = true) })
        val base = withMeta(scanOf(eraStruct, fmt, fs.map(_.path), hb))
        val cols = p.map { case (n, id, dt, eo) =>
          eo.map(e => col(e).as(n)).getOrElse(
            initDef.get(id).map(_.as(n))
              .getOrElse(lit(null).cast(dt).as(n))) } ++
          (if (withPos) Seq(col("__ri"), col("__path")) else Nil)
        applyNested(base.select(cols: _*), fills)
    }.reduce(_.unionByName(_))
  }

  /** Read an Iceberg table as a DataFrame (native distributed parquet
    * scan over the snapshot's live file list), applying v2 MERGE-ON-
    * READ delete files per the spec's sequence-number scoping:
    *
    *  - POSITION deletes (content=1): parquet of (`file_path`,
    *    `pos`) — a data row is dead when some position delete with
    *    `delete_seq >= data_seq` names its (file, row index). Applied
    *    as an anti-join of the scan (+`_metadata.row_index`) against
    *    the union of position-delete files — both sides distributed.
    *  - EQUALITY deletes (content=2): parquet of the equality
    *    columns — a data row is dead when a STRICTLY NEWER
    *    (`delete_seq > data_seq`) delete row matches it null-safely
    *    on those columns. One anti-join per distinct equality-id
    *    set.
    *
    * Per-file data sequence numbers ride in as a broadcast file→seq
    * map, so scoping never collects data. */
  def read(spark: SparkSession, tablePath: String,
           snapshotIdAsOf: Option[Long] = None,
           timestampAsOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, tablePath, snapshotIdAsOf, timestampAsOf)
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    if (snap.deletes.isEmpty)
      return rawFrame(spark, snap, snap.files, withPos = false)
    // ONE delete-application frame serves reads AND row-level DML
    // match detection (liveRowsWithPos) — the two must never diverge
    liveRowsWithPos(spark, snap, snap.files)
      .select(snap.schema.fieldNames.map(col): _*)
  }

  /** The scan key of a data file: `input_file_name()`'s URL-encoded
    * form, scheme-less — what a scan's `__path` column holds. */
  private def fileKey(p: String): String =
    org.apache.spark.paths.SparkPath.fromPathString(p).urlEncoded
      .replaceFirst("^[a-zA-Z0-9]+:(//)?", "")

  /** Read with the v3 ROW-LINEAGE `_row_id` column materialized
    * (spec v3 §Row Lineage: implicit id = the file's `first_row_id` +
    * the row's physical position; null for files written before
    * lineage was enabled). Unchanged rows keep their `_row_id` across
    * snapshots — the stable join key incremental downstream pipelines
    * (feature stores, CDC consumers) anchor on. MOR deletes apply
    * exactly like [[read]]. */
  def readWithRowIds(spark: SparkSession, tablePath: String,
                     snapshotIdAsOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, tablePath, snapshotIdAsOf, None)
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snap.schema.add("_row_id", org.apache.spark.sql.types.LongType))
    import spark.implicits._
    val frMap = broadcast(snap.files
      .map(f => (fileKey(f.path), f.firstRowId.getOrElse(-1L),
        f.firstRowId.isDefined))
      .toDF("__path", "__first_rid", "__has_rid"))
    // the scan ALSO reads the optional materialized lineage columns
    // (id-preserving rewrites carry them; other files read null) —
    // a materialized value wins over the inherited form (first_row_id
    // + position for `_row_id`; the file's data sequence number for
    // `_last_updated_sequence_number`, which liveRowsWithPos already
    // attaches as `__dataseq`)
    liveRowsWithPos(spark, withRowIdColumn(snap), snap.files)
      .join(frMap, Seq("__path"), "left")
      .withColumn("__rid_out",
        coalesce(col("_row_id"),
          when(col("__has_rid"), col("__first_rid") + col("__ri"))))
      .withColumn("__seq_out",
        coalesce(col("_last_updated_sequence_number"),
          when(col("__has_rid"), col("__dataseq"))))
      .drop("_row_id", "_last_updated_sequence_number")
      .withColumnRenamed("__rid_out", "_row_id")
      .withColumnRenamed("__seq_out", "_last_updated_sequence_number")
      .select((snap.schema.fieldNames.map(col) :+ col("_row_id") :+
        col("_last_updated_sequence_number")).toIndexedSeq: _*)
  }

  /** The highest micro-batch id `appId` has durably committed to
    * `tablePath` (replayed from the snapshots' `graft.txn.*` summary
    * properties; -1 = none / table absent) — the exactly-once
    * watermark of the `graft-iceberg` streaming sink, mirroring
    * [[DeltaLog]]'s `txn` replay. */
  def lastCommittedBatch(spark: SparkSession, tablePath: String,
                         appId: String): Long = {
    val mdir = metaDir(tablePath)
    val fs = fsFor(spark, mdir)
    if (!fs.exists(mdir)) return -1L
    if (fs.globStatus(new Path(mdir, "v*.metadata.json")).isEmpty) return -1L
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
      .flatMap(s => Option(s.get("summary")))
      .filter(su => Option(su.get("graft.txn.app-id"))
        .exists(_.asText() == appId))
      .flatMap(su => Option(su.get("graft.txn.batch-id"))
        .map(_.asText().toLong))
      .foldLeft(-1L)(math.max)
  }

  /** Committed snapshot ids in commit order (the metadata `snapshots`
    * array order, which both this writer and real writers append to). */
  def snapshotIds(spark: SparkSession, tablePath: String): Seq[Long] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
      .map(_.get("snapshot-id").asLong()).toSeq
  }

  /** Incremental change feed over REAL Iceberg tables — the
    * `incremental read` analog, same shape as [[DeltaLog.changes]]:
    * rows of files added (`insert`) or dropped (`delete`) per
    * snapshot in `(fromSnapshotId, toSnapshotId]`, each tagged with
    * `_change_type` and `_commit_snapshot_id`. Computed as the
    * FILE-LEVEL diff between consecutive snapshots' resolved file
    * lists (works for appends and overwrites alike, independent of
    * manifest entry statuses), PLUS the row-level merge-on-read
    * legs: a v3 DELETION-VECTOR or v2 position-delete commit between
    * two polled snapshots surfaces its newly-dead rows as `delete`
    * changes exactly once (DV bitmaps are TOTAL per file, so the
    * newly-dead set is the pair-diff against the predecessor's dead
    * set; DV decode rides on executors), added files emit only their
    * LIVE rows, and removed files emit only the rows live before
    * removal. EQUALITY-delete commits (the Flink-CDC upsert shape)
    * serve row-level too: newly-dead rows are the pre-image's LIVE
    * rows matched null-safely by a strictly-newer equality tuple —
    * the same seq-scoped application as the batch read, as semi/anti
    * joins over the keyed scan (nothing row-sized on the driver).
    * File contents are still on disk because nothing here vacuums.
    * `fromSnapshotId = -1` starts from table creation. Metadata
    * resolution is bounded by the polled tail; data reads are
    * distributed scans of exactly the changed files. A schema change
    * inside the range is a loud error — poll to the boundary, adapt,
    * continue. */
  def changes(spark: SparkSession, tablePath: String,
              fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val ids = snapshotIds(spark, tablePath)
    val fromIdx =
      if (fromSnapshotId == -1L) -1
      else {
        val i = ids.indexOf(fromSnapshotId)
        require(i >= 0, s"fromSnapshotId $fromSnapshotId not in $tablePath")
        i
      }
    val toIdx = ids.indexOf(toSnapshotId)
    require(toIdx >= 0, s"toSnapshotId $toSnapshotId not in $tablePath")
    require(toIdx >= fromIdx, s"bad snapshot range ($fromSnapshotId, $toSnapshotId]")
    val endSnap = snapshot(spark, tablePath, snapshotIdAsOf = Some(toSnapshotId))
    val outSchema = StructType(endSnap.schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_snapshot_id", LongType)))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    if (toIdx == fromIdx) return empty
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // all DEAD (file_path, pos) pairs of a snapshot — v3 deletion
    // vectors decoded ON EXECUTORS + v2 position-delete parquet, each
    // seq-scoped against its data file exactly like the batch read
    def deadPairs(s: Snapshot): Option[DataFrame] = {
      val pos = s.deletes.filter(_.content == 1)
      if (pos.isEmpty) return None
      val (dvs, pqs) = pos.partition(_.isDv)
      val pq: Option[DataFrame] =
        if (pqs.isEmpty) None
        else Some(pqs.map(d => spark.read.schema(PosDeleteReadSchema)
          .parquet(d.path)
          .select(col("file_path").cast("string"), col("pos").cast("long"))
          .withColumn("__dseq", lit(d.seq))).reduce(_.unionByName(_)))
      val dv: Option[DataFrame] =
        if (dvs.isEmpty) None
        else {
          val conf = new SerializableHadoopConf(
            spark.sparkContext.hadoopConfiguration)
          val refs = dvs.map(d => (d.path, d.contentOffset.get,
            d.contentSize.get, d.referencedDataFile.get, d.seq))
          Some(spark.createDataset(refs).flatMap { case (p, off, len, ref, dseq) =>
            DeletionVectors.readIcebergDvBlob(conf.value, p, off, len)
              .map(ps => (ref, ps, dseq))
          }.toDF("file_path", "pos", "__dseq"))
        }
      val seqMap = broadcast(s.files.map(f => (f.path, f.seq))
        .toDF("file_path", "__dataseq"))
      Some((pq.toSeq ++ dv.toSeq).reduce(_.unionByName(_))
        .join(seqMap, Seq("file_path"))
        .where(col("__dseq") >= col("__dataseq"))
        .select(col("file_path"), col("pos")))
    }
    // ---- row reads go through the RESOLVING reader (rawFrame): era
    // projection for renamed columns, v3 initial-defaults, and the
    // schema-drift refusals — the change feed must serve an old-era
    // file exactly like the batch read, never a name-based NULL.
    // KEYED frames add `__dp2` (the manifest's exact file_path),
    // `__ri` (physical position) and `__dataseq`, so position pairs
    // and equality tuples both scope exactly like liveRowsWithPos:
    // positions at delete_seq >= data_seq, equality matches
    // null-safely at delete_seq > data_seq.
    def keyedAt(paths: Seq[String], sn: Snapshot): DataFrame = {
      val pset = paths.toSet
      val files = sn.files.filter(f => pset(f.path))
      val km = broadcast(files.map(f => (fileKey(f.path), f.path, f.seq))
        .toDF("__path", "__dp2", "__dataseq"))
      rawFrame(spark, sn, files, withPos = true).join(km, Seq("__path"), "left")
    }
    // read `paths` at their physical positions, keeping rows selected
    // by `sel` (semi) or surviving `anti` (dead-row exclusion)
    def readAt(paths: Seq[String], sn: Snapshot, pairs: Option[DataFrame],
               anti: Boolean): DataFrame =
      pairs match {
        case None =>
          val pset = paths.toSet
          rawFrame(spark, sn, sn.files.filter(f => pset(f.path)),
            withPos = false)
        case Some(pr) =>
          val scoped = pr.where(col("file_path").isin(paths: _*))
            .select(col("file_path").as("__dp"), col("pos").as("__dri"))
          val keyed = keyedAt(paths, sn)
          val out = keyed.join(scoped,
            keyed("__dp2") === scoped("__dp") &&
              keyed("__ri") === scoped("__dri"),
            if (anti) "left_anti" else "left_semi")
          out.select(endSnap.schema.fieldNames.map(col).toIndexedSeq: _*)
      }
    def posJoin(keyed: DataFrame, pairs: DataFrame, anti: Boolean): DataFrame = {
      val scoped = pairs
        .select(col("file_path").as("__dp"), col("pos").as("__dri"))
      keyed.join(scoped,
        keyed("__dp2") === scoped("__dp") && keyed("__ri") === scoped("__dri"),
        if (anti) "left_anti" else "left_semi")
    }
    def eqFrames(s: Snapshot, eqs: Seq[DeleteFile])
    : Seq[(Seq[String], DataFrame)] =
      eqs.groupBy(_.equalityIds.sorted).toSeq.sortBy(_._1.mkString(","))
        .map { case (eids, dfs) =>
          val cols = eids.map(s.fieldNames)
          cols -> dfs.map(d => Tables.parquet(spark, d.path)
            .select(cols.map(c => col(c).as(s"__eq_$c")): _*)
            .withColumn("__eseq", lit(d.seq)))
            .reduce(_.unionByName(_))
        }
    // rows NOT matched by any strictly-newer equality delete
    def eqAnti(keyed: DataFrame, s: Snapshot, eqs: Seq[DeleteFile]): DataFrame =
      eqFrames(s, eqs).foldLeft(keyed) { case (k, (cols, eq)) =>
        k.join(eq, cols.map(c => k(c) <=> eq(s"__eq_$c")).reduce(_ && _) &&
          eq("__eseq") > k("__dataseq"), "left_anti")
      }
    // PEEL the matched rows per column set (chained by exclusion so a
    // row matching two different column sets emits exactly once)
    def eqPeel(keyed: DataFrame, s: Snapshot, eqs: Seq[DeleteFile])
    : Seq[DataFrame] = {
      var remaining = keyed
      eqFrames(s, eqs).map { case (cols, eq) =>
        def cond(k: DataFrame) =
          cols.map(c => k(c) <=> eq(s"__eq_$c")).reduce(_ && _) &&
            eq("__eseq") > k("__dataseq")
        val m = remaining.join(eq, cond(remaining), "left_semi")
        remaining = remaining.join(eq, cond(remaining), "left_anti")
        m
      }
    }
    def proj(df: DataFrame): DataFrame =
      df.select(endSnap.schema.fieldNames.map(col).toIndexedSeq: _*)
    var prevS: Option[Snapshot] =
      if (fromIdx < 0) None
      else Some(snapshot(spark, tablePath,
        snapshotIdAsOf = Some(ids(fromIdx))))
    val opOf = snapshotEntries(spark, tablePath)
      .map(e => e._1 -> e._3).toMap
    val legs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    ((fromIdx + 1) to toIdx).foreach { i =>
      val s = snapshot(spark, tablePath, snapshotIdAsOf = Some(ids(i)))
      if (s.schema != endSnap.schema)
        throw new UnsupportedOperationException(
          s"schema change inside polled snapshot range of $tablePath — " +
            "poll up to the boundary, adapt, continue")
      // `replace` snapshots (compaction / delete-file rewrite) shuffle
      // file membership without changing row content — Iceberg's
      // changelog scan excludes them; emit nothing but ADVANCE the
      // membership + dead-pair baseline so the next commit diffs
      // against the post-compaction layout
      if (opOf.getOrElse(ids(i), "") == "replace") {
        prevS = Some(s)
      } else {
      // the feed's row reads are parquet scans (+row_index for the
      // MOR legs) — ORC data files cannot serve them
      if (s.files.exists(f => !f.format.equalsIgnoreCase("parquet")))
        throw new UnsupportedOperationException(
          s"non-parquet data files in snapshot ${ids(i)} of $tablePath " +
            "— the change feed serves parquet tables; read snapshots " +
            "instead (or OPTIMIZE to parquet)")
      val prevFiles = prevS.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      val curFiles = s.files.map(_.path).toSet
      val prevDead = prevS.flatMap(deadPairs)
      val curDead = deadPairs(s)
      val eqsPrev = prevS.toSeq.flatMap(_.deletes.filter(_.content == 2))
      val eqsCur = s.deletes.filter(_.content == 2)
      def tagged(df: DataFrame, tag: String): DataFrame = df
        .withColumn("_change_type", lit(tag))
        .withColumn("_commit_snapshot_id", lit(ids(i)))
      val added = (curFiles -- prevFiles).toSeq.sorted
      val removed = (prevFiles -- curFiles).toSeq.sorted
      val survivors = (curFiles intersect prevFiles).toSeq.sorted
      if (eqsPrev.isEmpty && eqsCur.isEmpty) {
        // position-only path: the pair-diff legs, plans unchanged
        // INSERT: added files' rows, minus rows already dead at this
        // snapshot (a carried/folded DV on a fresh file)
        if (added.nonEmpty)
          legs += tagged(readAt(added, s, curDead, anti = true), "insert")
        // DELETE 1: removed files' rows that were LIVE before removal
        if (removed.nonEmpty)
          legs += tagged(readAt(removed, prevS.get, prevDead, anti = true),
            "delete")
        // DELETE 2: rows of SURVIVING files newly dead in this
        // snapshot — the merge-on-read DELETE/UPDATE shape (v3 DV or
        // position parquet), emitted exactly once
        if (survivors.nonEmpty && curDead.isDefined) {
          val newly = prevDead match {
            case None => curDead.get
            case Some(pd) => curDead.get.except(pd)
          }
          legs += tagged(readAt(survivors, s, Some(newly), anti = false),
            "delete")
        }
      } else {
        // EQUALITY deletes in play (the Flink-CDC upsert shape): every
        // leg runs over the keyed frame so value matches scope by
        // strict sequence number exactly like the batch read —
        // dead(row) = position-dead ∨ equality-dead; newly-dead =
        // dead(cur) ∧ live(prev), emitted exactly once
        if (added.nonEmpty) {
          var k = keyedAt(added, s)
          curDead.foreach(cd => k = posJoin(k, cd, anti = true))
          legs += tagged(proj(eqAnti(k, s, eqsCur)), "insert")
        }
        if (removed.nonEmpty) {
          var k = keyedAt(removed, prevS.get)
          prevDead.foreach(pd => k = posJoin(k, pd, anti = true))
          legs += tagged(proj(eqAnti(k, prevS.get, eqsPrev)), "delete")
        }
        if (survivors.nonEmpty && (curDead.isDefined || eqsCur.nonEmpty)) {
          var live = keyedAt(survivors, s)
          prevDead.foreach(pd => live = posJoin(live, pd, anti = true))
          val liveBefore = prevS.map(p => eqAnti(live, p, eqsPrev))
            .getOrElse(live)
          // newly position-dead (liveBefore already excludes the
          // previously-dead positions, so semi(cur) IS the diff)
          curDead.foreach(cd =>
            legs += tagged(proj(posJoin(liveBefore, cd, anti = false)),
              "delete"))
          // newly equality-dead, over rows not position-dead now
          val rem = curDead.map(cd => posJoin(liveBefore, cd, anti = true))
            .getOrElse(liveBefore)
          eqPeel(rem, s, eqsCur).foreach(m =>
            legs += tagged(proj(m), "delete"))
        }
      }
      prevS = Some(s)
      }
    }
    legs.reduceOption(_.unionByName(_)).getOrElse(empty)
  }

  /** Poll-based incremental consumption — the [[DeltaLog.syncChanges]]
    * contract for Iceberg tables: changes committed after
    * `lastSnapshotId` (-1 = from creation) plus the snapshot id the
    * consumer is carried to. */
  def syncChanges(spark: SparkSession, tablePath: String,
                  lastSnapshotId: Long): (Long, Option[DataFrame]) = {
    val ids = snapshotIds(spark, tablePath)
    if (ids.isEmpty || ids.last == lastSnapshotId) (lastSnapshotId, None)
    else (ids.last, Some(changes(spark, tablePath, lastSnapshotId, ids.last)))
  }

  /** `(snapshot_id, timestamp_ms, operation)` rows of the snapshots
    * list — pure metadata, shared by [[history]] and the catalog's
    * `<t>.snapshots` metadata table. */
  private[sources] def snapshotEntries(spark: SparkSession,
                                       tablePath: String): Seq[(Long, Long, String)] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
      .map(s => (s.get("snapshot-id").asLong(), s.get("timestamp-ms").asLong(),
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).getOrElse("")))
      .toSeq
  }

  /** The snapshot-log (made-current) entries —
    * `(made_current_at_ms, snapshot_id)`: unlike [[snapshotEntries]],
    * this records POINTER MOVES too (a rollback appends here without
    * adding a snapshot). */
  private[sources] def snapshotLogEntries(spark: SparkSession,
                                          tablePath: String): Seq[(Long, Long)] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala)
      .map(e => (e.get("timestamp-ms").asLong(), e.get("snapshot-id").asLong()))
      .toSeq
  }

  /** Snapshot history (`snapshot_id`, `timestamp_ms`, `operation`) —
    * the `SELECT * FROM t.snapshots` analog. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    snapshotEntries(spark, tablePath)
      .toDF("snapshot_id", "timestamp_ms", "operation")
  }

  /** Manifest-side FILE PRUNING: identity-partition tuples compose
    * with column bounds, both metadata-only (no data file opens).
    *
    *  - Partition leg: top-level AND conjuncts referencing ONLY
    *    partition columns evaluate against the typed tuples — exact,
    *    because identity values ARE the row values (null/false tuple
    *    ⇒ no qualifying row). Mixed conjuncts are ignored (they stay
    *    residual filters), never null-bound.
    *  - Bounds leg: `<numeric col> <op> <literal>` conjuncts check
    *    the manifests' lower/upper bounds, keep-unless-provably-false
    *    (no bounds recorded — foreign writer, string column — keeps
    *    the file; an all-null column satisfies no comparison). */
  def prunedFiles(spark: SparkSession, snap: Snapshot,
                  pred: org.apache.spark.sql.Column): Seq[DataFile] = {
    val partKept = transformPrunedFiles(spark, snap,
      partitionPrunedFiles(spark, snap, pred), pred)
    val checks = DeltaLog.numericChecks(spark, snap.schema, pred)
    if (checks.isEmpty) return partKept
    partKept.filter { f =>
      checks.forall { case (c, op, v) =>
        val allNull = (f.valueCounts.get(c), f.nullCounts.get(c)) match {
          case (Some(n), Some(k)) => n > 0 && k == n
          case _ => false
        }
        if (allNull) false
        else f.bounds.get(c) match {
          case Some((lo, hi)) => DeltaLog.boundsCanSatisfy(op, v, lo, hi)
          case None => true // no bounds — never skip
        }
      }
    }
  }

  private def partitionPrunedFiles(spark: SparkSession, snap: Snapshot,
                                   pred: org.apache.spark.sql.Column): Seq[DataFile] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
    import org.apache.spark.sql.functions.{col, expr}
    // prune ONLY on fields declared IDENTITY by the DEFAULT spec and
    // present in every file's tuple; files written under an
    // older/different spec-id always KEEP (their same-named tuple
    // value may come from a DIFFERENT transform — evaluating it as a
    // row value would wrong-prune)
    val identityNames: Set[String] =
      snap.specFields.filter(_.isIdentity).map(_.name).toSet
    val pcs: Seq[String] = snap.files.map(_.partitionTuple.keySet)
      .reduceOption(_ intersect _)
      .map(_.toSeq.filter(identityNames).sorted).getOrElse(Nil)
    if (pcs.isEmpty || snap.files.isEmpty) return snap.files
    // analyze over the FULL schema, keep partition-only conjuncts
    val cond: Expression = {
      val dummy = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      dummy.where(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return snap.files)
    }
    val pcSet = pcs.toSet
    val partOnly = DeltaLog.conjuncts(cond).filter { c =>
      val refs = c.references.toSeq.map(_.name)
      refs.nonEmpty && refs.forall(pcSet.contains) && c.deterministic &&
        !c.exists(_.isInstanceOf[SubqueryExpression])
    }
    if (partOnly.isEmpty) return snap.files
    val pruneCol = try partOnly.map(c => expr(c.sql)).reduce(_ && _)
    catch { case scala.util.control.NonFatal(_) => return snap.files }
    def coerce(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (n: java.lang.Number, ShortType) => n.shortValue()
      case (n: java.lang.Number, ByteType) => n.byteValue()
      case (n: java.lang.Number, IntegerType) => n.intValue()
      case (n: java.lang.Number, LongType) => n.longValue()
      case (n: java.lang.Number, FloatType) => n.floatValue()
      case (n: java.lang.Number, DoubleType) => n.doubleValue()
      case (other, _) => other
    }
    val schema = StructType(
      StructField("__idx", IntegerType, nullable = false) +:
        pcs.map(c => StructField(c, snap.schema(c).dataType, nullable = true)))
    val rows = snap.files.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: pcs.map(c =>
        coerce(f.partitionTuple.getOrElse(c, null), snap.schema(c).dataType)))
    }
    val keep = try spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .where(pruneCol).select("__idx")
      .collect().map(_.getInt(0)).toSet // bounded by FILE count
    catch { case scala.util.control.NonFatal(_) => return snap.files }
    snap.files.zipWithIndex.collect {
      case (f, i) if keep(i) || f.specId != snap.defaultSpecId => f
    }
  }

  /** HIDDEN-PARTITIONING pruning: source-column comparison conjuncts
    * prune on the TRANSFORMED tuple values the manifests record —
    * `ts >= X` keeps files with `ts_day >= day(X)` (monotone
    * transforms), `id = K` keeps `id_bucket = bucket(K)` files.
    * Keep-unless-provably-false: files written under a spec that does
    * not record the field keep; foreign transforms never prune. */
  private def transformPrunedFiles(spark: SparkSession, snap: Snapshot,
                                   files: Seq[DataFile],
                                   pred: org.apache.spark.sql.Column): Seq[DataFile] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, EqualNullSafe => CEns, EqualTo => CEq, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt, LessThanOrEqual => CLe, Literal => CLit}
    import IcebergPartitioning._
    val tfs = snap.specFields.filter(pf => !pf.isIdentity && isKnown(pf) &&
      snap.schema.fieldNames.contains(pf.source))
    if (tfs.isEmpty || files.isEmpty) return files
    val cond: Expression = {
      val dummy = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      dummy.where(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return files)
    }
    // (spec field, tuple-space check) pairs; a check sees the file's
    // recorded tuple value (null = the file's rows have null source)
    val checks: Seq[(PartField, Any => Boolean)] = DeltaLog.conjuncts(cond).flatMap {
      case c @ (_: BinaryComparison | _: CIn) =>
        // normalize to (attr, op-tag, literal values)
        val norm: Option[(String, String, Seq[Any])] = c match {
          case CEq(a: Attribute, l: CLit) => Some((a.name, "=", Seq(l.value)))
          case CEq(l: CLit, a: Attribute) => Some((a.name, "=", Seq(l.value)))
          case CEns(a: Attribute, l: CLit) => Some((a.name, "<=>", Seq(l.value)))
          case CEns(l: CLit, a: Attribute) => Some((a.name, "<=>", Seq(l.value)))
          case CGt(a: Attribute, l: CLit) => Some((a.name, ">", Seq(l.value)))
          case CGt(l: CLit, a: Attribute) => Some((a.name, "<", Seq(l.value)))
          case CGe(a: Attribute, l: CLit) => Some((a.name, ">", Seq(l.value)))
          case CGe(l: CLit, a: Attribute) => Some((a.name, "<", Seq(l.value)))
          case CLt(a: Attribute, l: CLit) => Some((a.name, "<", Seq(l.value)))
          case CLt(l: CLit, a: Attribute) => Some((a.name, ">", Seq(l.value)))
          case CLe(a: Attribute, l: CLit) => Some((a.name, "<", Seq(l.value)))
          case CLe(l: CLit, a: Attribute) => Some((a.name, ">", Seq(l.value)))
          case CIn(a: Attribute, vs) if vs.forall(_.isInstanceOf[CLit]) =>
            Some((a.name, "in", vs.map(_.asInstanceOf[CLit].value)))
          case _ => None
        }
        norm.filter(_._3.forall(_ != null)).toSeq.flatMap { case (an, op, vs) =>
          tfs.filter(_.source == an).flatMap { pf =>
            val srcType = snap.schema(pf.source).dataType
            val tvs = try vs.map(v => applyValue(pf, srcType, v))
            catch { case scala.util.control.NonFatal(_) => return files }
            (op, isMonotone(pf)) match {
              case ("=" | "<=>", _) => Some((pf, (t: Any) =>
                t != null && compareValues(t, tvs.head) == 0))
              case ("in", _) => Some((pf, (t: Any) =>
                t != null && tvs.exists(v => compareValues(t, v) == 0)))
              // monotone: src > v ⇒ T(src) >= T(v) (weakened bound)
              case (">", true) => Some((pf, (t: Any) =>
                t != null && compareValues(t, tvs.head) >= 0))
              case ("<", true) => Some((pf, (t: Any) =>
                t != null && compareValues(t, tvs.head) <= 0))
              case _ => None // bucket prunes equality/IN only
            }
          }
        }
      case _ => Seq.empty
    }
    if (checks.isEmpty) files
    else files.filter(f =>
      // files under a NON-default spec always keep: a same-named
      // tuple value may come from a different transform (e.g.
      // bucket(8) → bucket(16) evolution), so evaluating it against
      // the default spec's transform would wrong-prune
      f.specId != snap.defaultSpecId || checks.forall { case (pf, ok) =>
        f.partitionTuple.get(pf.name) match {
          case None => true // tuple does not record the field: keep
          case Some(t) => ok(t)
        }
      })
  }

  /** Row-level `DELETE FROM … WHERE predicate` as MERGE-ON-READ
    * position deletes — the v2 shape real Iceberg engines commit for
    * selective deletes: matched (file, row-position) pairs land in a
    * POSITION DELETE parquet (spec columns `file_path`/`pos`, sorted),
    * referenced by a content=1 delete manifest at a NEW sequence
    * number — no data file is rewritten, older snapshots read the
    * rows, [[read]] (and the DSv2 scan) applies the delete with
    * `delete_seq >= data_seq` scoping. Existing deletes compose (an
    * already-deleted row never matches again). The cardinality gate
    * (`spark.graft.mor.maxDeleteRows`, default 50k) keeps the
    * driver-side position collect bounded; larger deletes fall back
    * to COPY-ON-WRITE automatically ([[commitCow]] — the affected
    * files rewrite in one snapshot, parity with the Delta DV arm).
    * Returns the committed snapshot id (current when nothing
    * matched). */
  def delete(spark: SparkSession, tablePath: String,
             predicate: org.apache.spark.sql.Column): Long = {
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L, s"cannot delete from empty table $tablePath")
    val candidates = prunedFiles(spark, snap, predicate)
    if (candidates.isEmpty) return snap.snapshotId
    val cur = liveRowsWithPos(spark, snap, candidates)
    gatedPositions(spark, snap, candidates,
      cur.where(predicate), "DELETE") match {
      case Right(rows) if rows.isEmpty => snap.snapshotId
      case Right(rows) =>
        commitMorSnapshot(spark, tablePath, snap, rows, None, "delete")
      case Left(pos) => // over the gate: rewrite the affected files
        commitCow(spark, tablePath, snap, candidates, pos, None, "delete")
    }
  }

  /** Row-level `UPDATE … SET assignments WHERE predicate` as
    * merge-on-read: matched positions become a position-delete file
    * and the TRANSFORMED matched rows append as fresh data files —
    * both in ONE snapshot, no existing data file rewritten, old
    * snapshots intact. Same cardinality gate (and copy-on-write
    * fallback) as [[delete]]; partitioned tables stage post-images
    * under the table's layout. */
  def update(spark: SparkSession, tablePath: String,
             predicate: org.apache.spark.sql.Column,
             assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "UPDATE with no assignments")
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L, s"cannot update empty table $tablePath")
    assignments.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"UPDATE of unknown column $c"))
    val candidates = prunedFiles(spark, snap, predicate)
    if (candidates.isEmpty) return snap.snapshotId
    val cur = liveRowsWithPos(spark, snap, candidates)
    val matched = graft.Caches.tracked(cur.where(predicate))
    // ONE projection over the ORIGINAL columns (simultaneous SQL
    // UPDATE semantics — every matched row transforms, so no
    // per-row predicate needed here)
    val transformed = matched.select(snap.schema.fieldNames.map { c =>
      assignments.get(c).map(_.cast(snap.schema(c).dataType).as(c))
        .getOrElse(col(c))
    }.toSeq: _*)
    val v = gatedPositions(spark, snap, candidates, matched, "UPDATE") match {
      case Right(rows) if rows.isEmpty => snap.snapshotId
      case Right(rows) =>
        commitMorSnapshot(spark, tablePath, snap, rows,
          Some(transformed), "overwrite")
      case Left(pos) => // over the gate: rewrite the affected files
        commitCow(spark, tablePath, snap, candidates, pos,
          Some(transformed), "overwrite")
    }
    matched.unpersist()
    v
  }

  /** `MERGE INTO` (keyed whole-row upsert) as merge-on-read: target
    * rows holding a source key become position deletes, the WHOLE
    * source appends — one snapshot, the same last-writer-wins shape
    * as [[DeltaLog.merge]]. Source must be key-unique (counted gate)
    * and schema-compatible; PARTITIONED tables work — data files
    * stage under the table's layout (hidden transforms included),
    * delete files are GLOBAL (unpartitioned-spec manifests). */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
            keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "MERGE with no key columns")
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L, s"cannot merge into empty table $tablePath")
    keyCols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"unknown merge key $c"))
    require(snap.schema.fieldNames.toSet == source.columns.toSet &&
      shape(StructType(snap.schema.fieldNames.map(n =>
        source.schema(n)))).map(_._2) == shape(snap.schema).map(_._2),
      s"merge source schema ${source.schema.simpleString} does not match " +
        s"table schema ${snap.schema.simpleString}")
    val src = graft.Caches.tracked(
      source.select(snap.schema.fieldNames.map(col): _*))
    // ONE action serves emptiness + the key-ambiguity gate
    val (nSrc, maxKeyMult) = SourceGate(src, keyCols)
    if (nSrc == 0L) { src.unpersist(); return snap.snapshotId }
    require(maxKeyMult <= 1L,
      "merge source has duplicate keys — aggregate it first")
    val cur = liveRowsWithPos(spark, snap, snap.files)
    val matched = cur.join(src.select(keyCols.map(col): _*),
      keyCols, "left_semi")
    val v = gatedPositions(spark, snap, snap.files, matched, "MERGE") match {
      case Right(rows) =>
        commitMorSnapshot(spark, tablePath, snap, rows, Some(src),
          "overwrite")
      case Left(pos) => // over the gate: rewrite the affected files
        commitCow(spark, tablePath, snap, snap.files, pos, Some(src),
          "overwrite")
    }
    src.unpersist()
    v
  }

  /** GENERALIZED MERGE — the flexible SQL shapes (conditional /
    * partial-column `WHEN MATCHED THEN UPDATE`, `WHEN MATCHED THEN
    * DELETE`, conditional `WHEN NOT MATCHED THEN INSERT *`) as ONE
    * merge-on-read snapshot: affected rows (matched AND clause
    * condition true — a condition-false match survives untouched, no
    * file even rewrites) become POSITION DELETES, update post-images
    * and inserts land as fresh data files. [[merge]] stays the fast
    * keyed-upsert path. Expression resolution contract:
    * [[MergeSpec]]. */
  def mergeFlexible(spark: SparkSession, tablePath: String,
                    source: DataFrame, keyCols: Seq[String],
                    matched: Seq[MergeSpec.Matched],
                    notMatched: Seq[MergeSpec.NotMatched],
                    bySource: Seq[MergeSpec.NotMatchedBySource] = Seq.empty,
                    extraOn: Option[org.apache.spark.sql.Column] = None): Long = {
    import org.apache.spark.sql.functions._
    import MergeSpec.SrcPrefix
    require(keyCols.nonEmpty, "MERGE with no key columns")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE with no clauses")
    val snap = snapshot(spark, tablePath)
    keyCols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"unknown merge key $c"))
    keyCols.foreach(c => require(source.columns.contains(c),
      s"merge source lacks key column $c"))
    (matched.map(_.assignments) ++ bySource.map(_.assignments))
      .foreach(_.foreach { case (n, _) =>
        require(snap.schema.fieldNames.contains(n),
          s"unknown assignment column $n") })
    // INSERT * clauses need every target column in the source;
    // expression-insert clauses provide their own values
    if (notMatched.exists(_.assignments.isEmpty))
      snap.schema.fieldNames.foreach(c => require(source.columns.contains(c),
        s"WHEN NOT MATCHED THEN INSERT needs source column $c"))
    notMatched.filter(_.assignments.nonEmpty).foreach(nm =>
      snap.schema.fieldNames.foreach(c =>
        require(nm.assignments.exists(_._1 == c),
          s"WHEN NOT MATCHED THEN INSERT must cover column $c")))
    val nmc = Option(notMatched).filter(_.nonEmpty)
      .map(MergeSpec.ofNotMatched)
    def insertProjection(unmatchedSrc: DataFrame): DataFrame = {
      val c = nmc.get
      unmatchedSrc.where(c.any).select(snap.schema.fieldNames.map(n =>
        c.value(n, col(n)).cast(snap.schema(n).dataType).as(n)).toSeq: _*)
    }
    // an EMPTY (DDL-first) table: nothing matches — the merge is the
    // insert clause alone, a plain append under the declared spec
    // (the Delta arm handles its empty target too)
    if (snap.snapshotId == -1L) {
      return nmc match {
        case Some(_) => write(spark, insertProjection(source),
          tablePath, partitionBy = snap.specFields.map(_.canonical))
        case None => snap.snapshotId // matched-only merge: no-op
      }
    }
    val src = graft.Caches.tracked(source)
    // ONE action serves emptiness + the key-ambiguity gate
    val (nSrc, maxKeyMult) = SourceGate(src, keyCols)
    if (nSrc == 0L && bySource.isEmpty) {
      src.unpersist(); return snap.snapshotId
    }
    require(maxKeyMult <= 1L,
      "merge source has duplicate keys — aggregate it first")
    val cur = graft.Caches.tracked(liveRowsWithPos(spark, snap, snap.files))
    try {
      val srcRen = src.select(src.columns.toSeq.map(c =>
        col(c).as(SrcPrefix + c)): _*)
      // NON-EQUI residual ON conjuncts ride the equality join — a row
      // pair is "matched" only under the FULL ON condition
      val joinCond = extraOn.foldLeft(
        keyCols.map(k => col(k) === col(SrcPrefix + k)).reduce(_ && _))(
        _ && _)
      // ordered clauses, first-match-wins (standard SQL MERGE)
      val mc = Option(matched).filter(_.nonEmpty).map(MergeSpec.ofMatched)
      val bsc = Option(bySource).filter(_.nonEmpty).map(MergeSpec.ofBySource)
      val affected = mc match {
        case Some(c) => cur.join(srcRen, joinCond, "inner").where(c.any)
        case None => cur.join(srcRen, joinCond, "inner").limit(0)
      }
      val srcKeysDf = src.select(keyCols.map(col): _*).distinct()
      val bsAffected: Option[DataFrame] = bsc.map(c =>
        (extraOn match {
          case None => cur.join(srcKeysDf, keyCols, "left_anti")
          case Some(_) => cur.join(srcRen, joinCond, "left_anti")
        }).where(c.any))
      val posFrame = bsAffected
        .map(b => affected.select(col("__path"), col("__ri"))
          .unionByName(b.select(col("__path"), col("__ri"))))
        .getOrElse(affected)
      val gated = gatedPositions(spark, snap, snap.files, posFrame, "MERGE")
      val tableCols = snap.schema.fieldNames.toSeq
      val updatedRows: Option[DataFrame] = mc.filter(_.hasUpdate).map { c =>
        affected.where(!c.isDelete).select(tableCols.map(n =>
          c.value(n, col(n)).cast(snap.schema(n).dataType).as(n)): _*)
      }
      val bsUpdatedRows: Option[DataFrame] =
        bsc.filter(_.hasUpdate).zip(bsAffected).map { case (c, bsa) =>
          bsa.where(!c.isDelete).select(tableCols.map(n =>
            c.value(n, col(n)).cast(snap.schema(n).dataType).as(n)): _*)
        }
      val insertRows: Option[DataFrame] = nmc.map { _ =>
        // "not matched" = no target row satisfying the FULL ON — with
        // non-equi conjuncts a key-matched-but-condition-false source
        // row still inserts
        val unmatchedSrc = extraOn match {
          case None => src.join(
            cur.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          case Some(_) => srcRen.join(cur, joinCond, "left_anti")
            .select(src.columns.toSeq.map(c =>
              col(SrcPrefix + c).as(c)): _*)
        }
        insertProjection(unmatchedSrc)
      }
      val appendFrame: Option[DataFrame] =
        (updatedRows.toSeq ++ bsUpdatedRows.toSeq ++ insertRows.toSeq)
          .reduceOption(_.unionByName(_))
          .filterNot(_.isEmpty)
      gated match {
        case Right(rows) if rows.isEmpty && appendFrame.isEmpty =>
          snap.snapshotId
        case Right(rows) =>
          commitMorSnapshot(spark, tablePath, snap, rows, appendFrame,
            "overwrite")
        case Left(pos) => // over the gate: rewrite the affected files
          commitCow(spark, tablePath, snap, snap.files, pos, appendFrame,
            "overwrite")
      }
    } finally { cur.unpersist(); src.unpersist() }
  }

  /** The table's DEFAULT partition spec as canonical partitionBy
    * strings (`col`, `day(ts)`, `bucket(16, id)`; empty for
    * unpartitioned) — what a writer must partition appends by;
    * [[write]] parses them back to the same transforms. */
  def defaultSpecNames(spark: SparkSession, tablePath: String): Seq[String] =
    snapshot(spark, tablePath).specFields.map(_.canonical)

  /** Streaming-style keyed UPSERT via EQUALITY deletes — the v2
    * shape Flink's Iceberg CDC sink commits: ONE snapshot holding an
    * equality-delete file of the source's key tuples (content=2,
    * strictly-newer scoping kills any older row with a matching key)
    * plus the whole source as fresh data files. The target is NEVER
    * scanned — no match-detection job, no position collect, no
    * cardinality gate: cost is O(source), which is why this is the
    * high-frequency upsert shape at scale ([[merge]] is the
    * position-delete twin that pays a target scan to keep the table
    * scan-clean). Readers apply the delete merge-on-read; compact
    * later via overwrite when the delete pile grows. Source must be
    * key-unique and schema-compatible; PARTITIONED tables work —
    * source files stage under the table's layout, the equality-delete
    * manifest declares an unpartitioned (global) spec. */
  def upsertEquality(spark: SparkSession, tablePath: String,
                     source: DataFrame, keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "upsert with no key columns")
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L,
      s"cannot upsert into empty table $tablePath — write() creates it")
    keyCols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"unknown upsert key $c"))
    require(snap.schema.fieldNames.toSet == source.columns.toSet,
      s"upsert source schema ${source.schema.simpleString} does not " +
        s"match table schema ${snap.schema.simpleString}")
    val src = graft.Caches.tracked(
      source.select(snap.schema.fieldNames.map(col): _*))
    // ONE action serves emptiness + the key-ambiguity gate
    val (nSrc, maxKeyMult) = SourceGate(src, keyCols)
    if (nSrc == 0L) { src.unpersist(); return snap.snapshotId }
    require(maxKeyMult <= 1L,
      "upsert source has duplicate keys — aggregate it first")
    // field ids of the key columns (equality_ids)
    val keyIds = {
      val byName = snap.fieldNames.map(_.swap)
      keyCols.map(c => byName.getOrElse(c, throw new IllegalStateException(
        s"no field id for key column $c")))
    }
    val v = commitEqualityUpsert(spark, tablePath, snap,
      src.select(keyCols.map(col): _*), keyIds, src)
    src.unpersist()
    v
  }

  /** Commit ONE snapshot: equality-delete file (the key tuples) +
    * fresh data files for the source. */
  private def commitEqualityUpsert(spark: SparkSession, tablePath: String,
                                   snap: Snapshot, keysDf: DataFrame,
                                   keyIds: Seq[Int],
                                   appendDf: DataFrame): Long = {
    val mdir = metaDir(tablePath)
    val fs = fsFor(spark, mdir)

    // ---- attempt-invariant staging (once): equality-delete parquet
    // of exactly the key columns + the whole source as fresh
    // stats-bearing data files under the table's partition layout.
    // Manifests/metadata regenerate per CAS attempt.
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(tablePath,
      s".tmp-eq-$tok-${java.util.UUID.randomUUID()}")
    StagingWrite.parquet(keysDf.coalesce(1), tmp.toString)
    val part = fs.listStatus(tmp).toSeq
      .find(_.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("no eq-delete file written"))
    val eqPath = fs.makeQualified(
      new Path(new Path(tablePath, "data"), s"d$tok-eq-delete-0.parquet"))
    fs.mkdirs(eqPath.getParent)
    if (!fs.rename(part.getPath, eqPath))
      throw new IllegalStateException(s"rename failed for $eqPath")
    fs.delete(tmp, true)
    // count of the just-written equality-delete file from its footer
    // (one driver ranged read), not a Spark job
    val nKeys = footerRowCount(
      spark.sparkContext.hadoopConfiguration, eqPath)

    val staged = stageDataFiles(spark,
      appendDf.select(snap.schema.fieldNames
        .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*),
      tablePath, snap.specFields, s"d$tok-ups")

    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalStateException(
        s"no metadata for $tablePath"))
      val ns = nextSnapshot(baseMeta)
      val curId = currentSnapshotId(meta).getOrElse(-1L)
      // REBASE over a concurrent winner: equality deletes match by
      // VALUE with sequence-number scoping, so a winner's appended
      // rows are upserted-over exactly as Flink's committer would —
      // only schema/spec changes are true conflicts
      val curSnap: Snapshot =
        if (curId == snap.snapshotId) snap
        else rebaseSnapshot(spark, tablePath, snap, curId, "upsert")
      val curNode = snapshotNodes(meta).find(
        _.get("snapshot-id").asLong() == curSnap.snapshotId).get
      // mutation commits operate on (and their outputs match) the
      // table's CURRENT schema — post-ALTER DML writes the evolved shape
      val schemaNode = currentSchemaNode(meta)
      val schemaJson = M.writeValueAsString(schemaNode)

      // GLOBAL equality deletes: on a partitioned table the manifest
      // declares an UNPARTITIONED spec (value matching ignores layout)
      val eqManifest = writeDeleteManifest(spark, mdir, s"eq-${ns.tok}-${ns.id}",
        schemaJson, Seq((eqPath.toString, fs.getFileStatus(eqPath).getLen,
          nKeys, 2, keyIds)), ns.id, ns.seq,
        specId = unpartitionedSpecId(meta, curSnap.defaultSpecId,
          curSnap.specFields.nonEmpty))
      // v3 ROW LINEAGE: the upserted rows claim fresh id ranges
      val dataManifest = writeManifest(spark, mdir, s"ups-${ns.tok}-${ns.id}",
        schemaJson, staged.files, ns.id, ns.seq, spec = specFieldsOf(snap),
        tuples = staged.tuples, specId = curSnap.defaultSpecId,
        stats = staged.stats, fieldInfo = fieldInfoOf(schemaNode, snap.schema),
        firstRowIds = ns.claim(staged.files))
      putSnapshot(spark, tablePath, meta, baseMeta, ns,
        carriedManifests(spark, curNode) ++ Seq(eqManifest, dataManifest),
        Seq("operation" -> "overwrite"),
        claimed = Some(staged.files.map(_._3).sum))
      (meta, ns.id)
    }
  }

  /** Live rows of `files` WITH physical positions — the same
    * delete-application frame [[read]] builds, restricted to `files`,
    * keeping `__path`/`__ri` so existing position/equality deletes
    * never re-match. */
  private def liveRowsWithPos(spark: SparkSession, snap: Snapshot,
                              files: Seq[DataFile]): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val seqMap = broadcast(files.map(f => (fileKey(f.path), f.seq))
      .toDF("__path", "__dataseq"))
    var cur = rawFrame(spark, snap, files, withPos = true)
      .join(seqMap, Seq("__path"), "left")
    // bounds-scoped: only delete files whose manifest-recorded
    // file_path range (or v3 referenced_data_file) can name one of
    // `files` are read at all
    val allPos = snap.deletes.filter(d =>
      d.content == 1 && files.exists(f => d.mayReference(f.path)))
    val (dvDeletes, posDeletes) = allPos.partition(_.isDv)
    if (allPos.nonEmpty) {
      val pathMap = broadcast(snap.files.map(f => (f.path, fileKey(f.path)))
        .toDF("__raw", "__mapped"))
      val pqPos: Option[DataFrame] =
        if (posDeletes.isEmpty) None
        else Some(posDeletes.map { d =>
          spark.read.schema(PosDeleteReadSchema).parquet(d.path).select(
            col("file_path").cast("string"), col("pos").cast("long"))
            .withColumn("__dseq", lit(d.seq))
        }.reduce(_.unionByName(_)))
      // v3 DELETION VECTORS decode ON EXECUTORS: the driver ships only
      // (puffin path, offset, size) triples; each blob is a ranged
      // read + roaring decode yielding this file's dead positions
      val dvPos: Option[DataFrame] =
        if (dvDeletes.isEmpty) None
        else {
          val conf = new SerializableHadoopConf(
            spark.sparkContext.hadoopConfiguration)
          val refs = dvDeletes.map(d => (d.path, d.contentOffset.get,
            d.contentSize.get, d.referencedDataFile.get, d.seq))
          Some(spark.createDataset(refs)
            .flatMap { case (p, off, len, ref, dseq) =>
              DeletionVectors.readIcebergDvBlob(conf.value, p, off, len)
                .map(pos => (ref, pos, dseq))
            }.toDF("file_path", "pos", "__dseq"))
        }
      val pos = (pqPos.toSeq ++ dvPos.toSeq).reduce(_.unionByName(_))
        .join(pathMap, col("file_path") === col("__raw"))
        .select(col("__mapped").as("__dpath"), col("pos").as("__dri"),
          col("__dseq"))
      cur = cur.join(pos,
        cur("__path") === pos("__dpath") && cur("__ri") === pos("__dri") &&
          pos("__dseq") >= cur("__dataseq"), "left_anti")
    }
    snap.deletes.filter(_.content == 2).groupBy(_.equalityIds.sorted)
      .toSeq.sortBy(_._1.mkString(",")).foreach { case (ids, dfs) =>
        val cols = ids.map(snap.fieldNames)
        val eq = dfs.map(d => Tables.parquet(spark, d.path)
          .select(cols.map(c => col(c).as(s"__eq_$c")): _*)
          .withColumn("__dseq", lit(d.seq)))
          .reduce(_.unionByName(_))
        val cond = cols.map(c => cur(c) <=> eq(s"__eq_$c"))
          .reduce(_ && _) && eq("__dseq") > cur("__dataseq")
        cur = cur.join(eq, cond, "left_anti")
      }
    cur
  }

  /** Count-gate + collect the matched (manifest file_path, position)
    * pairs; `Right(empty)` when nothing matched. Over the gate
    * (`spark.graft.mor.maxDeleteRows`, default 50k) the position
    * collect would not be driver-bounded — returns `Left(cached
    * (__path, __ri) frame)` so the caller falls back to COPY-ON-WRITE
    * ([[commitCow]]); the caller owns the unpersist. */
  private def gatedPositions(spark: SparkSession, snap: Snapshot,
                             files: Seq[DataFile], matchedFrame: DataFrame,
                             op: String): Either[DataFrame, Seq[(String, Long)]] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val maxRows = Option(spark.conf.get("spark.graft.mor.maxDeleteRows", null))
      .map(_.toLong).getOrElse(50000L)
    val cap = math.min(maxRows, Int.MaxValue - 2L).toInt
    val sel = matchedFrame.select(col("__path"), col("__ri"))
    // ONE bounded action instead of persist + count + collect:
    // take(cap+1) scans partitions incrementally (executeTake) and
    // never holds more than cap+1 rows on the driver; getting cap+1
    // rows back IS the over-the-gate signal. The rare over-gate path
    // pays one partial scan before the COW fallback materializes the
    // frame it needs anyway.
    val matched = sel.as[(String, Long)].take(cap + 1)
    if (matched.isEmpty) return Right(Seq.empty)
    if (matched.length > cap) return Left(graft.Caches.tracked(sel))
    // scan keys back to the MANIFEST's exact file_path strings (the
    // spec's position-delete matching rule)
    val keyToManifestPath = files.map(f => fileKey(f.path) -> f.path).toMap
    Right(matched.toSeq.map { case (k, ri) => (keyToManifestPath(k), ri) }
      .sortBy(identity)) // spec ordering: file_path, then pos
  }

  /** COPY-ON-WRITE fallback for over-gate row-level DML (the parity
    * twin of the Delta DV arm's fallback): instead of collecting an
    * unbounded position list, REWRITE the files bearing matches — one
    * snapshot that drops the affected files, carries the survivors as
    * existing entries, appends (unmatched affected rows) ∪ `extraDf`
    * (the operation's transformed/inserted rows) as fresh data files,
    * and keeps prior delete manifests applying to the survivors.
    * Never a position collect: only the DISTINCT affected file paths
    * (bounded by the file count) pass through the driver. */
  private def commitCow(spark: SparkSession, tablePath: String,
                        snap: Snapshot, files: Seq[DataFile],
                        matchedPos: DataFrame, extraDf: Option[DataFrame],
                        operation: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
    import spark.implicits._
    // v3 ROW LINEAGE through a COW rewrite (spec v3 §Row Lineage):
    // SURVIVING rows carry their current `_row_id` as the materialized
    // column; post-image/inserted rows carry NULL and INHERIT fresh
    // ids from the staged file's first_row_id + position (the spec's
    // per-row inheritance rule) — ids of untouched rows never change.
    // Table-level gate (not per-file): after an id-preserving
    // compaction NO entry carries first_row_id, yet ids must survive
    // the next rewrite via the materialized column.
    val lineage = snap.rowLineage
    try {
      val keys = matchedPos.select(col("__path")).distinct()
        .as[String].collect().toSet // bounded by the file count
      val affected = files.filter(f => keys(fileKey(f.path)))
      require(affected.size == keys.size,
        s"internal: ${keys.size} matched paths resolve to " +
          s"${affected.size} files")
      // survivors spanning several partition specs cannot carry as
      // existing entries (one manifest declares ONE spec) — widen to
      // a full rewrite, which also migrates them to the current spec
      val affectedPaths = affected.map(_.path).toSet
      val survivorsMixed = snap.files.exists(f =>
        !affectedPaths(f.path) && f.specId != snap.defaultSpecId)
      val rewriteFiles = if (survivorsMixed) snap.files else affected
      // unmatched rows of the rewritten files survive via rewrite
      val keep =
        if (!lineage)
          liveRowsWithPos(spark, snap, rewriteFiles)
            .join(matchedPos, Seq("__path", "__ri"), "left_anti")
            .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
        else {
          val frMap = broadcast(rewriteFiles
            .map(f => (fileKey(f.path), f.firstRowId.getOrElse(-1L),
              f.firstRowId.isDefined))
            .toDF("__path", "__first_rid", "__has_rid"))
          liveRowsWithPos(spark, withRowIdColumn(snap), rewriteFiles)
            .join(matchedPos, Seq("__path", "__ri"), "left_anti")
            .join(frMap, Seq("__path"), "left")
            .withColumn("__rid_out",
              coalesce(col("_row_id"),
                when(col("__has_rid"), col("__first_rid") + col("__ri"))))
            .withColumn("__seq_out",
              coalesce(col("_last_updated_sequence_number"),
                when(col("__has_rid"), col("__dataseq"))))
            .drop("_row_id", "_last_updated_sequence_number")
            .withColumnRenamed("__rid_out", "_row_id")
            .withColumnRenamed("__seq_out", "_last_updated_sequence_number")
            .select((snap.schema.fieldNames.toSeq ++ LineageCols)
              .map(col).toIndexedSeq: _*)
        }
      val extras = extraDf.toSeq.map { e =>
        val base = e.select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
        if (!lineage) base
        else base.withColumn("_row_id", lit(null).cast("long"))
          .withColumn("_last_updated_sequence_number",
            lit(null).cast("long"))
      }
      // lineage tables split the legs: survivors stage into
      // claim-free files (ids — nulls included — fully materialized),
      // post-images into range-claiming files whose null ids INHERIT
      // fresh ones. A single merged file would re-key every
      // pre-lineage null-id survivor through the inheritance rule.
      if (lineage) {
        val extra = extras.reduceOption(_.unionByName(_))
        commitMorSnapshot(spark, tablePath, snap, rows = Seq.empty,
          appendDf = extra.filterNot(_.isEmpty), operation,
          removePaths = rewriteFiles.map(_.path).toSet,
          carryRowIdColumn = true,
          appendPreserved = Some(keep).filterNot(_.isEmpty))
      } else {
        val append = (Seq(keep) ++ extras).reduce(_.unionByName(_))
        commitMorSnapshot(spark, tablePath, snap, rows = Seq.empty,
          appendDf = Some(append).filterNot(_.isEmpty), operation,
          removePaths = rewriteFiles.map(_.path).toSet)
      }
    } finally matchedPos.unpersist()
  }

  /** Data files a commit staged: `(absolute path, size, records)` per
    * file, each file's partition tuple (in the spec's field order; empty
    * for unpartitioned tables) and its footer stats. */
  private final case class Staged(files: Seq[(String, Long, Long)],
                                  tuples: Map[String, Seq[Any]],
                                  stats: Map[String, FileStats]) {
    def ++(o: Staged): Staged =
      Staged(files ++ o.files, tuples ++ o.tuples, stats ++ o.stats)
  }

  /** Stage `df` into `data/` under the partition layout `pfs` and ADOPT
    * the files under stable `<tag>-part-<i>.parquet` names (a racing
    * writer must never clobber another's adopted files; manifests bind
    * paths, not names) — the one staging step of every committing
    * writer. Source columns STAY in the data files (the Iceberg
    * layout, unlike Hive's): partitioned stages write through DERIVED
    * `gp_` columns holding the TRANSFORMED partition values (identity
    * included), so hidden partitioning is `day(ts)`/`bucket(16, id)`
    * values in the tree and the manifests, the raw column in the data.
    * `sortWithin` sorts each task's rows by the partition tuple, then
    * these columns (a table's write order). */
  private def stageDataFiles(spark: SparkSession, df: DataFrame,
                             tablePath: String,
                             pfs: Seq[IcebergPartitioning.PartField],
                             tag: String,
                             cluster: Boolean = true,
                             sortWithin: Seq[org.apache.spark.sql.Column] = Nil)
  : Staged = {
    import org.apache.spark.sql.functions.col
    val fsConf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(tablePath)
    val fs = dst.getFileSystem(fsConf)
    pfs.foreach { pf =>
      require(df.schema.fieldNames.contains(pf.source),
        s"unknown partition source column ${pf.source}")
      require(!df.schema.fieldNames.contains("gp_" + pf.name),
        s"column gp_${pf.name} collides with the staging alias for " +
          s"partition field ${pf.name}")
      IcebergPartitioning.requireSupported(pf, df.schema(pf.source).dataType)
      // loud on field types the manifests cannot record
      partitionAvroType(IcebergPartitioning.resultType(
        pf, df.schema(pf.source).dataType))
    }
    val tmp = new Path(dst, s".tmp-$tag-${java.util.UUID.randomUUID()}")
    val gpCols = pfs.map("gp_" + _.name)
    val withGp = pfs.foldLeft(df)((d, pf) =>
      d.withColumn("gp_" + pf.name, IcebergPartitioning.stagingColumn(
        pf, df.schema(pf.source).dataType)))
    // CLUSTER by the partition tuple before the fan-out write —
    // Iceberg's `write.distribution-mode=hash`. Without it every
    // in-flight partition writes into every touched directory:
    // |input partitions| × |dirs| near-empty files per DML commit
    // (measured 32 × 7 ≈ 220 on the partitioned-MOR update at
    // sf0.1), each paying a rename + a footer read + a manifest
    // entry. REBALANCE (AQE) sizes output partitions adaptively:
    // one file per tuple here, skewed tuples SPLIT into several
    // right-sized files at scale (guide §6 small-files / §2.5).
    // `cluster = false` for callers that SHAPED the frame already
    // (rewriteDataFiles' per-partition bin-packing / range splits,
    // write's sort order).
    val clustered =
      if (pfs.isEmpty || !cluster) withGp
      else withGp.hint("rebalance", gpCols: _*)
    val shaped =
      if (sortWithin.isEmpty) clustered
      else clustered.sortWithinPartitions(
        (gpCols.map(col(_).asc) ++ sortWithin): _*)
    StagingWrite.parquet(shaped, tmp.toString, gpCols)
    val tmpQ = fs.makeQualified(tmp).toString
    // keyed by the tmp-RELATIVE path, not the basename: one task
    // writing rows of several partition dirs reuses the same
    // part-XXXXX basename in each of them
    def walkStaged(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.filterNot(_.getPath.getName.startsWith("_"))
        .flatMap(st =>
          if (st.isDirectory) walkStaged(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
          else Seq.empty)
    val adopted = walkStaged(tmp).sortBy(_.toString).zipWithIndex
      .map { case (src, i) =>
        val relStaged = fs.makeQualified(src).toString
          .stripPrefix(tmpQ).stripPrefix("/")
        val dirs = relStaged.split('/').dropRight(1).toSeq
          .map(_.replaceFirst("^gp_", ""))
        val kv = DeltaLog.parsePartitionDirs(dirs, pfs.map(_.name))
        val tupleVals: Seq[Any] = pfs.map { pf =>
          val raw = kv(pf.name)
          if (raw == null) null
          else IcebergPartitioning.resultType(
            pf, df.schema(pf.source).dataType) match {
            case IntegerType | ShortType | ByteType => Int.box(raw.toInt)
            case LongType => Long.box(raw.toLong)
            case BooleanType => Boolean.box(raw.toBoolean)
            case FloatType => Float.box(raw.toFloat)
            case DoubleType => Double.box(raw.toDouble)
            case _ => raw
          }
        }
        val rel = new Path(dst,
          (Seq("data") ++ dirs :+ s"$tag-part-$i.parquet").mkString("/"))
        fs.mkdirs(rel.getParent)
        if (!fs.rename(src, rel))
          throw new IllegalStateException(s"rename failed for $rel")
        (fs.makeQualified(rel).toString, fs.getFileStatus(rel).getLen,
          tupleVals)
      }
    fs.delete(tmp, true)
    // row counts AND column stats from the FOOTERS in one open per
    // file (read concurrently / as one executor job above the gate),
    // not a Spark re-scan job of the data that was just written —
    // external engines and the DSv2 scan prune on them
    val cs = footerCountsAndStats(spark, adopted.map(_._1))
    Staged(adopted.map { case (q, len, _) => (q, len, cs(q)._1) },
      if (pfs.isEmpty) Map.empty
      else adopted.map { case (q, _, tuple) => q -> tuple }.toMap,
      cs.map { case (q, (_, st)) => q -> st })
  }

  /** The base snapshot node's manifests as `manifest_file` records —
    * the one carry every commit that keeps prior files uses. Early-v1
    * inline `manifests` paths (which [[replaySnapshot]] reads) wrap
    * into records the way real writers upgrade them: silently carrying
    * NOTHING here would drop every prior file from the table. */
  private def carriedManifests(spark: SparkSession,
                               sn: JsonNode): Seq[GenericRecord] =
    if (sn.has("manifest-list"))
      readManifestList(spark, new Path(sn.get("manifest-list").asText()))
    else Option(sn.get("manifests")).toSeq.flatMap(_.elements().asScala)
      .map { pn =>
        val p = new Path(pn.asText())
        val mf = new GenericData.Record(ManifestFileSchema)
        mf.put("manifest_path", p.toString)
        mf.put("manifest_length", fsFor(spark, p).getFileStatus(p).getLen)
        mf.put("partition_spec_id", 0)
        mf.put("content", 0)
        mf.put("sequence_number", 0L)
        mf.put("min_sequence_number", 0L)
        mf.put("added_snapshot_id", sn.get("snapshot-id").asLong())
        mf.put("added_files_count", 0)
        mf.put("existing_files_count", 0)
        mf.put("deleted_files_count", 0)
        mf.put("added_rows_count", 0L)
        mf.put("existing_rows_count", 0L)
        mf.put("deleted_rows_count", 0L)
        mf: GenericRecord
      }.toSeq

  /** `meta`'s snapshot entries, in commit order. */
  private def snapshotNodes(meta: JsonNode): Seq[JsonNode] =
    Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala).toSeq

  /** `meta`'s current snapshot id, if it has one (-1 and null are the
    * spec's "none"). */
  private def currentSnapshotId(meta: JsonNode): Option[Long] =
    Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).filter(_ != -1L)

  /** The table's CURRENT schema node (v1: the single `schema`) — what
    * commits write and mutations operate on. */
  private def currentSchemaNode(meta: JsonNode): JsonNode = {
    val id = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("schemas")).flatMap(_.elements().asScala
      .find(n => Option(n.get("schema-id")).exists(_.asInt() == id)))
      .getOrElse(meta.get("schema"))
  }

  /** `name -> (field id, type)` for the columns of `schema` that
    * `schemaNode` declares — what a manifest keys column stats by. */
  private def fieldInfoOf(schemaNode: JsonNode, schema: StructType)
  : Map[String, (Int, DataType)] =
    Option(schemaNode.get("fields")).toSeq.flatMap(_.elements().asScala)
      .flatMap { fn =>
        val n = fn.get("name").asText()
        schema.find(_.name == n)
          .map(f => n -> ((fn.get("id").asInt(), f.dataType)))
      }.toMap

  /** The schema registry step of a commit that writes `schema`
    * ([[write]], [[mirrorFromDelta]]): a prior schema of the same
    * loose shape (names + types; nullability is a presentation detail
    * the append gate ignores — an INSERT of non-null literals must never
    * mint a new all-required schema) is reused, node and id, the
    * table's current one first; else `schema` joins the list under a
    * fresh id — old snapshots keep reading with the schema they were
    * written under. Returns the schema node (its `schema-id` set), the
    * schemas list and the table's `last-column-id`. */
  private def registerSchema(prior: Option[JsonNode], schema: StructType)
  : (ObjectNode, Seq[JsonNode], Int) = {
    val priorSchemas: Seq[JsonNode] = prior.toSeq.flatMap { m =>
      if (m.has("schemas")) m.get("schemas").elements().asScala.toSeq
      else Option(m.get("schema")).toSeq
    }
    val lastColumnId = prior.flatMap(m => Option(m.get("last-column-id")))
      .map(_.asInt()).getOrElse(0)
    val curSchemaId = prior.flatMap(m =>
      Option(m.get("current-schema-id")).map(_.asInt()))
    def shapeEq(n: JsonNode): Boolean =
      looseType(icebergTypeToSpark(n)) == looseType(schema)
    priorSchemas.find(n => n.has("schema-id") &&
        curSchemaId.contains(n.get("schema-id").asInt()) && shapeEq(n))
      .orElse(priorSchemas.find(n => n.has("schema-id") && shapeEq(n))) match {
      case Some(n) =>
        (n.deepCopy[JsonNode]().asInstanceOf[ObjectNode], priorSchemas,
          lastColumnId)
      case None =>
        var idCounter = 0
        val o = sparkTypeToIceberg(schema, () => { idCounter += 1; idCounter })
          .asInstanceOf[ObjectNode]
        o.put("schema-id", priorSchemas
          .flatMap(n => Option(n.get("schema-id")).map(_.asInt()))
          .foldLeft(-1)(math.max) + 1)
        (o, priorSchemas :+ o, math.max(idCounter, lastColumnId))
    }
  }

  /** The snapshot a commit attempt creates: id and sequence number one
    * past the base's, an attempt token that keeps this attempt's
    * manifest names unique (a lost race may recompute the same id when
    * the winner was a metadata-only commit), the commit time, and on a
    * v3 table the first row id the snapshot may claim (spec v3 §Row
    * Lineage). */
  private final case class NextSnapshot(id: Long, seq: Long, tok: String,
                                        now: Long, rowIdBase: Option[Long]) {
    /** First row ids for `files` (path, size, records): contiguous
      * ranges from `rowIdBase` in the given order; none below v3. */
    def claim(files: Seq[(String, Long, Long)]): Map[String, Long] =
      rowIdBase.toSeq.flatMap(b =>
        files.map(_._1).zip(files.scanLeft(b)(_ + _._3))).toMap
  }

  /** The next snapshot on `base` (None: a create, at `createFv`). The
    * commit time is taken here, inside the attempt, so snapshot
    * timestamps follow commit order. */
  private def nextSnapshot(base: Option[JsonNode],
                           createFv: Int = 2): NextSnapshot = {
    def field(k: String): Option[JsonNode] = base.flatMap(m => Option(m.get(k)))
    NextSnapshot(
      base.toSeq.flatMap(snapshotNodes).map(_.get("snapshot-id").asLong())
        .foldLeft(0L)(math.max) + 1,
      field("last-sequence-number").map(_.asLong()).getOrElse(0L) + 1,
      java.util.UUID.randomUUID().toString.take(8),
      System.currentTimeMillis(),
      if (field("format-version").map(_.asInt()).getOrElse(createFv) < 3) None
      else Some(field("next-row-id").map(_.asLong()).getOrElse(0L)))
  }

  /** The one snapshot encoder every commit shares. Writes the manifest
    * list of `manifests`, then puts snapshot `ns` on `root` — the
    * metadata the commit writes; `base` is the metadata it rebases on
    * (None on create), the same node for commits that edit the base in
    * place. The entry records id, sequence number, timestamp, manifest
    * list, schema id (`schemaId`, else the root's current schema),
    * `parent-snapshot-id` (the branch head for branch writes, else the
    * base's current snapshot, when there is one), on a v3 table
    * `first-row-id` (the base's `next-row-id`) and `added-rows` (the
    * row ids `claimed`, 0 for a commit that claims none), and
    * `summary`. Unless `current` is false (a branch or WAP-staged
    * write) the table points at it and the snapshot-log gains it.
    * `claimed`: the rows that took fresh ids from `next-row-id`; None
    * for commits that assign no row ids (maintenance, mirrors), which
    * carry the counter unchanged. */
  private def putSnapshot(spark: SparkSession, tablePath: String,
                          root: ObjectNode, base: Option[JsonNode],
                          ns: NextSnapshot, manifests: Seq[GenericRecord],
                          summary: Seq[(String, String)],
                          claimed: Option[Long],
                          schemaId: Option[Int] = None,
                          branchHead: Option[Long] = None,
                          current: Boolean = true): Unit = {
    val mdir = metaDir(tablePath)
    val listPath = fsFor(spark, mdir).makeQualified(
      new Path(mdir, s"snap-${ns.tok}-${ns.id}-manifest-list.avro"))
    writeAvro(spark, listPath, ManifestFileSchema,
      Map("format-version" -> "2"), manifests)
    val prior = base.toSeq.flatMap(snapshotNodes)
    val baseCur = base.flatMap(currentSnapshotId)
    val parent = branchHead.orElse(baseCur)
    val snaps = M.createArrayNode()
    prior.foreach(snaps.add)
    val sn = snaps.addObject()
    sn.put("snapshot-id", ns.id)
    sn.put("sequence-number", ns.seq)
    sn.put("timestamp-ms", ns.now)
    sn.put("manifest-list", listPath.toString)
    schemaId.orElse(Option(root.get("current-schema-id")).map(_.asInt()))
      .orElse(prior.find(n => parent.contains(n.get("snapshot-id").asLong()))
        .flatMap(n => Option(n.get("schema-id"))).map(_.asInt()))
      .foreach(sn.put("schema-id", _))
    parent.foreach(sn.put("parent-snapshot-id", _))
    ns.rowIdBase.foreach { b =>
      sn.put("first-row-id", b)
      sn.put("added-rows", claimed.getOrElse(0L))
    }
    val su = sn.putObject("summary")
    summary.foreach { case (k, v) => su.put(k, v) }
    val log = M.createArrayNode()
    base.foreach(m => Option(m.get("snapshot-log"))
      .foreach(_.elements().asScala.foreach(log.add)))
    if (current) {
      val e = log.addObject()
      e.put("snapshot-id", ns.id)
      e.put("timestamp-ms", ns.now)
    }
    root.set[JsonNode]("snapshots", snaps)
    root.set[JsonNode]("snapshot-log", log)
    root.put("last-sequence-number", ns.seq)
    root.put("last-updated-ms", ns.now)
    root.put("current-snapshot-id",
      if (current) ns.id else baseCur.getOrElse(-1L))
    ns.rowIdBase match {
      case Some(b) => root.put("next-row-id", b + claimed.getOrElse(0L))
      case None => base.flatMap(m => Option(m.get("next-row-id")))
        .foreach(n => root.put("next-row-id", n.asLong()))
    }
  }

  /** A DML's base advanced from `snap` to the head `curId` under a lost
    * race: the head's snapshot, refusing a rebase across a schema or
    * default-spec change. [[snapshot]] resolves through the version
    * hint, which the winner updates only after its CAS — poll until it
    * has caught up with the scanned head, else rescan. */
  private def rebaseSnapshot(spark: SparkSession, tablePath: String,
                             snap: Snapshot, curId: Long,
                             what: String): Snapshot = {
    var fresh = snapshot(spark, tablePath)
    var w = 0
    while (fresh.snapshotId != curId && w < 100) {
      Thread.sleep(20); fresh = snapshot(spark, tablePath); w += 1
    }
    if (fresh.snapshotId != curId) throw RetryCommit
    if (shape(fresh.schema) != shape(snap.schema))
      throw new CommitConflictException("MetadataChanged",
        s"$tablePath: the schema changed under this $what")
    if (fresh.defaultSpecId != snap.defaultSpecId)
      throw new CommitConflictException("MetadataChanged",
        s"$tablePath: the default partition spec changed under this $what")
    fresh
  }

  /** Column names and exact types, nested nullability included — what
    * a rebase or a stream's schema check compares. */
  private[sources] def shape(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  /** `dt` with every nested nullability relaxed: names and types must
    * match, but nullability is a presentation detail parquet does not
    * enforce (a struct built from non-null columns is tighter, not
    * wrong) — the append gate's and schema registry's rule. */
  private def looseType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, looseType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(looseType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(looseType(m.keyType), looseType(m.valueType),
        valueContainsNull = true)
    case o => o
  }

  /** The default spec as manifest [[SpecField]]s (result types from
    * the CURRENT schema) — what a DML data manifest records; foreign
    * transforms refuse loudly (this writer cannot compute their
    * tuples). */
  private def specFieldsOf(snap: Snapshot): Seq[SpecField] = {
    val byName = snap.fieldNames.map(_.swap)
    snap.specFields.map { pf =>
      require(IcebergPartitioning.isKnown(pf),
        s"cannot write under foreign partition transform ${pf.transform} " +
          s"on ${snap.tablePath}")
      SpecField(pf.name,
        IcebergPartitioning.resultType(pf, snap.schema(pf.source).dataType),
        byName(pf.source), pf.transform, pf.fieldId)
    }
  }

  /** The spec-id of an UNPARTITIONED spec to stamp on delete
    * manifests of a partitioned table (position/equality delete files
    * here are GLOBAL — they reference data files by path / match by
    * value, so a partition-less spec is the consistent declaration).
    * Registers a fresh empty spec in `meta`'s `partition-specs` when
    * none exists. Returns 0 untouched for unpartitioned tables. */
  private def unpartitionedSpecId(meta: ObjectNode, defaultSpecId: Int,
                                  partitioned: Boolean): Int = {
    if (!partitioned) return defaultSpecId
    val specs = Option(meta.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala).toSeq
    specs.find(s => Option(s.get("fields")).forall(_.size() == 0))
      .map(_.get("spec-id").asInt())
      .getOrElse {
        val fresh = specs.map(_.get("spec-id").asInt()).foldLeft(-1)(math.max) + 1
        val arr = meta.withArray[ArrayNode]("partition-specs")
        val sp = arr.addObject()
        sp.put("spec-id", fresh)
        sp.putArray("fields")
        fresh
      }
  }

  /** Commit ONE merge-on-read snapshot through the optimistic CAS:
    * a position-delete file + content=1 manifest for `rows`,
    * optionally fresh data files (with footer stats) for `appendDf`,
    * carried prior manifests (or copy-on-write survivors when
    * `removePaths` is set). The expensive staging runs once; manifests
    * and metadata regenerate per CAS attempt with rebase conflict
    * classification (see the attempt body). */
  private[sources] def commitMorSnapshot(spark: SparkSession, tablePath: String,
                                snap: Snapshot, rows: Seq[(String, Long)],
                                appendDf: Option[DataFrame],
                                operation: String,
                                carryExisting: Boolean = true,
                                removePaths: Set[String] = Set.empty,
                                preserveRowIds: Boolean = false,
                                carryRowIdColumn: Boolean = false,
                                appendPreserved: Option[DataFrame] = None,
                                clusterStaging: Boolean = true): Long = {
    import spark.implicits._
    val mdir = metaDir(tablePath)
    val fs = fsFor(spark, mdir)

    // ---- attempt-invariant staging (the expensive part, done ONCE):
    // the real position-delete and data parquet land under unique
    // token-named paths; manifests, the manifest list, and the
    // metadata JSON — which carry snapshot/sequence numbers that may
    // advance under a lost commit race — regenerate per CAS attempt.
    val tok = java.util.UUID.randomUUID().toString.take(8)

    // v3 tables take their row-level deletes as DELETION VECTORS —
    // Puffin deletion-vector-v1 blobs, one per affected data file —
    // instead of position-delete parquet (v3 forbids new position
    // delete files)
    val dvMode: Boolean = rows.nonEmpty && {
      val m = readJson(spark, latestMetadataFile(spark, tablePath))
      Option(m.get("format-version")).map(_.asInt()).getOrElse(2) >= 3
    }

    // position-delete parquet + its file_path bounds (GLOBAL deletes:
    // on a partitioned table the manifest declares an UNPARTITIONED
    // spec — the file references data rows by path, not partition)
    val delFile: Option[(String, Long, Long, (String, String))] =
      if (rows.isEmpty || dvMode) None else {
        // `rows` is the driver-gated match list (≤ mor.maxDeleteRows)
        // — write the spec-sorted parquet DIRECTLY on the driver
        // instead of round-tripping it through a one-task Spark job
        // (task-binary broadcast + launch + commit per DML commit).
        // The token-unique name keeps the staging attempt-invariant;
        // an aborted commit leaves an orphan no reader can see.
        val delPath = fs.makeQualified(
          new Path(new Path(tablePath, "data"), s"d$tok-pos-delete-0.parquet"))
        fs.mkdirs(delPath.getParent)
        PosDeleteIo.writeSorted(
          spark.sparkContext.hadoopConfiguration, delPath, rows)
        // record the file_path bounds (min/max referenced data file,
        // in the spec's UTF-8 byte order) so readers scope this delete
        // file to the files it actually names
        implicit val utf8Order: Ordering[String] = Ordering.comparatorToOrdering(
          java.util.Comparator.comparing((s: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        val refPaths = rows.map(_._1)
        Some((delPath.toString, fs.getFileStatus(delPath).getLen,
          rows.size.toLong, (refPaths.min, refPaths.max)))
      }

    // v3 DELETION-VECTOR staging: ONE Puffin file holding one
    // deletion-vector-v1 blob per affected data file. The spec makes
    // a DV TOTAL for its file — it must contain every previously
    // deleted position — so the new positions FOLD with the file's
    // existing DV (ranged blob read) and any v2-era position-delete
    // parquet rows naming it (one filtered scan); the superseded DV
    // entries drop from the carried manifests below. Executor-free
    // staging is fine here: `rows` is already the driver-gated match
    // list, and per-file folds are bounded by per-file cardinality.
    val dvStaged: Option[(String, Long, Seq[(String, Long, Long, Long)])] =
      if (!dvMode) None else {
        val newByFile: Map[String, Seq[Long]] =
          rows.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._2) }
        val conf = spark.sparkContext.hadoopConfiguration
        val oldDvByFile: Map[String, Seq[Long]] = snap.deletes
          .filter(d => d.isDv && d.referencedDataFile.exists(newByFile.contains))
          .groupBy(_.referencedDataFile.get)
          .map { case (f, ds) => f -> ds.flatMap(d =>
            DeletionVectors.readIcebergDvBlob(conf, d.path,
              d.contentOffset.get, d.contentSize.get).toSeq) }
        val oldPq: Map[String, Seq[Long]] = {
          val pq = snap.deletes.filter(d => d.content == 1 && !d.isDv &&
            newByFile.keys.exists(d.mayReference))
          if (pq.isEmpty) Map.empty
          else {
            import org.apache.spark.sql.functions.col
            import spark.implicits._
            spark.read.schema(PosDeleteReadSchema)
              .parquet(pq.map(_.path): _*)
              .select(col("file_path").cast("string"), col("pos").cast("long"))
              .where(col("file_path").isin(newByFile.keys.toSeq: _*))
              .as[(String, Long)].collect().toSeq.groupBy(_._1)
              .map { case (f, ps) => f -> ps.map(_._2) }
          }
        }
        val blobsIn: Seq[(String, Array[Long])] =
          newByFile.keys.toSeq.sorted.map { f =>
            f -> (newByFile(f) ++ oldDvByFile.getOrElse(f, Nil) ++
              oldPq.getOrElse(f, Nil)).distinct.sorted.toArray
          }
        val puffinPath = fs.makeQualified(
          new Path(new Path(tablePath, "data"), s"d$tok-dv.puffin"))
        fs.mkdirs(puffinPath.getParent)
        val blobs = blobsIn.map { case (f, ps) =>
          Puffin.Blob("deletion-vector-v1", Seq.empty,
            snap.snapshotId, snap.snapshotId,
            DeletionVectors.dvBlobBytes(ps.toSeq),
            Map("referenced-data-file" -> f,
              "cardinality" -> ps.length.toString))
        }
        val (fileSize, _, metas) =
          Puffin.write(fs, puffinPath, blobs, Map("created-by" -> "graft"))
        Some((puffinPath.toString, fileSize,
          blobsIn.zip(metas).map { case ((f, ps), m) =>
            (f, m.offset, m.length, ps.length.toLong) }))
      }

    // appended rows (update transforms / merge source) as fresh data
    // files with footer stats — staged under the table's PARTITION
    // LAYOUT (hidden transforms included). An id-preserving rewrite
    // (compaction or COW on a v3 row-lineage table) MATERIALIZES each
    // row's current _row_id into the rewritten parquet (spec v3 §Row
    // Lineage) — the extra column rides along; ordinary commits
    // project it away
    def stageLeg(df: DataFrame, withLineage: Boolean, tag: String): Staged =
      stageDataFiles(spark,
        df.select((snap.schema.fieldNames.toSeq ++
          (if (withLineage) LineageCols else Nil))
          .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*),
        tablePath, snap.specFields, tag, cluster = clusterStaging)
    // the PRESERVED leg (COW survivors): every row's lineage is
    // already materialized — nulls included (pre-lineage rows keep
    // their null forever, spec v3 §Row Lineage) — so these files
    // must claim NO first_row_id; a claimed range would make the
    // inheritance rule re-key exactly the null-id rows. The appendDf
    // leg (post-images / inserts) stages separately and DOES claim
    // ranges — its nulls are what inheritance is for.
    val stagedPreserved: Option[Staged] =
      appendPreserved.map(df => stageLeg(df, withLineage = true,
        s"d$tok-keep"))
    val stagedAppend: Option[Staged] =
      appendDf.map(df => stageLeg(df,
        withLineage = preserveRowIds || carryRowIdColumn, s"d$tok-upd"))
    val stagedData: Option[Staged] =
      (stagedAppend.toSeq ++ stagedPreserved.toSeq).reduceOption(_ ++ _)
    // only the append leg's files may be assigned fresh id ranges;
    // id-preserving rewrites claim none: their rows carry materialized
    // _row_id values, and a file entry without first_row_id makes
    // readers use the column
    val claimable: Seq[(String, Long, Long)] =
      if (preserveRowIds) Nil else stagedAppend.toSeq.flatMap(_.files)

    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalStateException(
        s"no metadata for $tablePath"))
      val ns = nextSnapshot(baseMeta)
      val curId = currentSnapshotId(meta).getOrElse(-1L)

      // REBASE: a concurrent winner advanced the table since `snap`
      // was read — classify the conflict, then re-apply this mutation
      // against the WINNER's state (Iceberg commit.retry semantics)
      val curSnap: Snapshot =
        if (curId == snap.snapshotId) snap
        else {
          if (!carryExisting) throw new CommitConflictException(
            "ConcurrentWrite",
            s"$tablePath: a concurrent commit advanced the table under " +
              "a full REPLACE — re-run the rewrite against the new state")
          val fresh = rebaseSnapshot(spark, tablePath, snap, curId, "mutation")
          val live = fresh.files.map(_.path).toSet
          val goneRef = rows.map(_._1).distinct.filterNot(live)
          if (goneRef.nonEmpty) throw new CommitConflictException(
            "ConcurrentRewrite",
            s"$tablePath: data files this DML's position deletes " +
              s"reference were rewritten concurrently: " +
              goneRef.take(3).mkString(", "))
          val goneRm = removePaths.filterNot(live)
          if (goneRm.nonEmpty) throw new CommitConflictException(
            "ConcurrentDeleteDelete",
            s"$tablePath: files this copy-on-write commit rewrites were " +
              s"rewritten concurrently: ${goneRm.take(3).mkString(", ")}")
          val baseMaxSeq = (snap.files.map(_.seq) ++
            snap.deletes.map(_.seq)).foldLeft(0L)(math.max)
          // a winner's NEW delete files must not be silently undone:
          // a COPY-ON-WRITE rebase would re-commit the rewritten rows
          // at a sequence number no winner delete can touch — the
          // winner's committed DELETE/UPDATE on those rows would
          // resurrect them (Iceberg's validateNoNewDeleteFiles)
          if (removePaths.nonEmpty &&
            fresh.deletes.exists(_.seq > baseMaxSeq))
            throw new CommitConflictException("ConcurrentDeleteDelete",
              s"$tablePath: a concurrent commit added delete files this " +
                "copy-on-write rewrite would re-commit rows past")
          // predicate-derived DML defaults to SERIALIZABLE isolation,
          // exactly like Spark-Iceberg's write.delete.isolation-level:
          // a winner's APPENDED data files may hold rows the predicate
          // never scanned, so the rebase refuses unless the table opts
          // into snapshot isolation
          val isolation = Option(meta.get("properties"))
            .flatMap(p => Option(p.get("write.delete.isolation-level")))
            .map(_.asText()).getOrElse("serializable")
          val basePaths = snap.files.map(_.path).toSet
          if ((rows.nonEmpty || removePaths.nonEmpty) &&
            isolation == "serializable" &&
            fresh.files.exists(f => !basePaths(f.path) && f.seq > baseMaxSeq))
            throw new CommitConflictException("ConcurrentAppend",
              s"$tablePath: a concurrent commit appended data files this " +
                "predicate-scoped DML never scanned — set table property " +
                "write.delete.isolation-level=snapshot to allow the rebase")
          // a v3 DV is TOTAL for its file: it folded the deletes seen
          // at staging, so a winner's NEW delete content on the same
          // files would be silently lost if this rebase landed
          dvStaged.foreach { case (_, _, blobs) =>
            val aff = blobs.map(_._1).toSet
            if (fresh.deletes.exists(d => d.seq > baseMaxSeq &&
              aff.exists(d.mayReference)))
              throw new CommitConflictException("ConcurrentDeleteDelete",
                s"$tablePath: a concurrent commit added delete content " +
                  "for data files this deletion-vector commit folds — " +
                  "rebasing would drop the winner's deletes")
          }
          fresh
        }
      val curNode = snapshotNodes(meta).find(
        _.get("snapshot-id").asLong() == curSnap.snapshotId).get
      // mutation commits operate on (and their outputs match) the
      // table's CURRENT schema — post-ALTER DML writes the evolved shape
      val schemaNode = currentSchemaNode(meta)
      val schemaJson = M.writeValueAsString(schemaNode)
      def unpartSpec: Int = unpartitionedSpecId(meta, curSnap.defaultSpecId,
        curSnap.specFields.nonEmpty)

      val delManifest: Option[GenericRecord] = dvStaged match {
        case Some((pPath, pSize, blobs)) =>
          Some(writeDeleteManifest(spark, mdir, s"del-${ns.tok}-${ns.id}",
            schemaJson,
            blobs.map(b => (pPath, pSize, b._4, 1, Seq.empty[Int])),
            ns.id, ns.seq, specId = unpartSpec,
            dvRefs = blobs.map(b => Some((b._1, b._2, b._3)))))
        case None => delFile.map { case (p, len, n, bounds) =>
          writeDeleteManifest(spark, mdir, s"del-${ns.tok}-${ns.id}",
            schemaJson, Seq((p, len, n, 1, Seq.empty)), ns.id, ns.seq,
            specId = unpartSpec, pathBounds = Map(p -> bounds))
        }
      }
      // v3 ROW LINEAGE: post-image/merge-source files claim fresh
      // id ranges from next-row-id (deleted rows' ids simply vanish;
      // surviving files keep their ranges via the carried manifests)
      val dataManifest: Option[GenericRecord] = stagedData.map { st =>
        writeManifest(spark, mdir, s"upd-${ns.tok}-${ns.id}", schemaJson,
          st.files, ns.id, ns.seq, spec = specFieldsOf(curSnap),
          tuples = st.tuples, specId = curSnap.defaultSpecId,
          stats = st.stats, fieldInfo = fieldInfoOf(schemaNode, snap.schema),
          firstRowIds = ns.claim(claimable))
      }

      // carry the current snapshot's manifests (data + prior deletes) —
      // unless this is a full REPLACE (compaction), whose fresh data
      // manifest supersedes every prior data AND delete manifest, or a
      // COPY-ON-WRITE commit (removePaths non-empty): the files bearing
      // matches drop, the SURVIVORS carry as existing entries in one
      // fresh data manifest (original seq + adding snapshot preserved),
      // and prior DELETE manifests carry — their seq scoping still
      // applies to the survivors, while the rewritten files commit at a
      // strictly newer seq no old delete can touch
      val dvFolded: Set[String] = dvStaged.toSeq.flatMap(_._3.map(_._1)).toSet
      val carried: Seq[GenericRecord] =
        if (removePaths.nonEmpty) {
          val survivors = curSnap.files.filterNot(f => removePaths(f.path))
          // no survivors = a full rewrite: prior delete files have
          // nothing left to apply to, so nothing carries
          if (survivors.isEmpty) Seq.empty
          else carriedManifests(spark, curNode)
            .filter(m => longOf(m.get("content")) == 1L) :+
            existingFilesManifest(spark, mdir, s"cow-${ns.tok}-${ns.id}",
              schemaJson, curSnap, survivors, ns.id, ns.seq,
              Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0),
              "copy-on-write rewrite")
        } else if (curSnap.deletes.exists(d => d.isDv &&
          d.referencedDataFile.exists(dvFolded))) {
          // the new DVs FOLDED the affected files' old DVs — those
          // entries must not carry (at most one DV per data file);
          // every other delete entry carries as EXISTING with its
          // ORIGINAL sequence number, data manifests carry whole
          val keep = curSnap.deletes.filterNot(d =>
            d.isDv && d.referencedDataFile.exists(dvFolded))
          val keepManifest =
            if (keep.isEmpty) None
            else Some(writeDeleteManifest(spark, mdir,
              s"keep-${ns.tok}-${ns.id}", schemaJson,
              keep.map(d => (d.path, d.sizeBytes, d.records, d.content,
                d.equalityIds)),
              ns.id, ns.seq, specId = unpartSpec,
              pathBounds = keep.flatMap(d =>
                d.pathBounds.map(d.path -> _)).toMap,
              existingSeqs = keep.map(d => d.path -> d.seq).toMap,
              dvRefs = keep.map(d => for {
                r <- d.referencedDataFile; o <- d.contentOffset
                s2 <- d.contentSize
              } yield (r, o, s2))))
          carriedManifests(spark, curNode)
            .filter(m => longOf(m.get("content")) == 0L) ++ keepManifest.toSeq
        } else if (carryExisting) carriedManifests(spark, curNode)
        else Seq.empty
      putSnapshot(spark, tablePath, meta, baseMeta, ns,
        carried ++ delManifest.toSeq ++ dataManifest.toSeq,
        Seq("operation" -> operation),
        claimed = Some(claimable.map(_._3).sum))
      (meta, ns.id)
    }
  }

  // ---------------- table maintenance ----------------

  /** Write ONE manifest holding `files` as EXISTING entries — status
    * 0, original sequence numbers and adding snapshot ids preserved
    * (incremental readers attribute files by them), column stats AND
    * partition tuples carried (neither pruning leg is lost). The body
    * of [[rewriteManifests]] and the survivors leg of a copy-on-write
    * commit. All files must sit on the default spec (the manifest
    * declares ONE spec; an older spec's tuples would be reinterpreted
    * under the wrong transforms). */
  private def existingFilesManifest(spark: SparkSession, mdir: Path,
                                    tag: String, schemaJson: String,
                                    snap: Snapshot, files: Seq[DataFile],
                                    snapId: Long, seq: Long, dsid: Int,
                                    opDesc: String): GenericRecord = {
    val fs = fsFor(spark, mdir)
    val statsFieldInfo: Map[String, (Int, DataType)] =
      snap.fieldNames.flatMap { case (id, n) =>
        snap.schema.find(_.name == n).map(f => n -> ((id, f.dataType)))
      }
    require(files.forall(_.specId == snap.defaultSpecId),
      s"cannot $opDesc ${snap.tablePath}: live files span multiple " +
        "partition specs — rewrite the data (OPTIMIZE) first")
    val specByName = snap.fieldNames.map(_.swap)
    val spec: Seq[SpecField] = snap.specFields.map { pf =>
      require(IcebergPartitioning.isKnown(pf),
        s"cannot $opDesc ${snap.tablePath}: foreign partition " +
          s"transform ${pf.transform} — this writer cannot reproduce its " +
          "partition tuples")
      SpecField(pf.name,
        IcebergPartitioning.resultType(pf, snap.schema(pf.source).dataType),
        specByName(pf.source), pf.transform, pf.fieldId)
    }
    val entrySchema = entrySchemaFor(spec)
    val entries = files.map { f =>
      EntrySpec(status = 0, // existing
        snapshotId = if (f.addedSnapshotId >= 0) f.addedSnapshotId
        else snapId,
        seq = f.seq, content = 0, path = f.path,
        tuple = spec.map(sf => f.partitionTuple.getOrElse(sf.name, null)),
        records = f.records, size = f.sizeBytes,
        // row lineage carries: an existing file keeps its id range
        firstRowId = f.firstRowId,
        stats = Some(FileStats(f.valueCounts, f.nullCounts, f.bounds)),
        eqIds = Nil, dvRef = None, pathBounds = None)
    }
    val manifestPath = fs.makeQualified(
      new Path(mdir, s"manifest-$tag.avro"))
    val len = writeManifestFile(spark, manifestPath, entrySchema,
      Seq("schema" -> schemaJson, "partition-spec" -> specFieldsJson(spec),
        "partition-spec-id" -> dsid.toString, "format-version" -> "2",
        "content" -> "data"), spec.map(_.name), statsFieldInfo, entries)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", len)
    mf.put("partition_spec_id", dsid)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number",
      files.map(_.seq).foldLeft(seq)(math.min))
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", 0)
    mf.put("existing_files_count", files.size)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 0L)
    mf.put("existing_rows_count", files.map(_.records).sum)
    mf.put("deleted_rows_count", 0L)
    mf
  }

  /** Every path a snapshot pins: (manifest lists, manifests, data +
    * delete file paths). Shared-structure accounting for
    * [[expireSnapshots]] — appends carry prior manifests forward, so
    * a manifest or data file may be referenced by many snapshots. */
  private def referencedPaths(spark: SparkSession, sn: JsonNode)
  : (Set[String], Set[String], Set[String]) = {
    def filesOf(manifests: Seq[String]): Set[String] = {
      val buf = scala.collection.mutable.HashSet[String]()
      manifests.foreach { m =>
        foreachAvro(spark, new Path(m)) { e =>
          if (longOf(e.get("status")).toInt != 2)
            buf += e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path").toString
        }
      }
      buf.toSet
    }
    val manifests = carriedManifests(spark, sn)
      .map(_.get("manifest_path").toString)
    (Option(sn.get("manifest-list")).map(_.asText()).toSet,
      manifests.toSet, filesOf(manifests))
  }

  /** Snapshot EXPIRATION — the Iceberg-flavor VACUUM: keep the most
    * recent `keepSnapshots` snapshots (the current one always
    * survives), commit a new metadata.json whose `snapshots` list
    * holds only the survivors, and physically delete every data
    * file, manifest, and manifest list referenced ONLY by expired
    * snapshots — structure shared with live snapshots is never
    * touched. Time travel to an expired id then fails LOUDLY at
    * resolution ("snapshot N not in table"), exactly Iceberg's
    * post-expiration contract. Returns the deleted paths. */
  /** The `RETAIN n HOURS` retention mapping: how many snapshots were
    * committed at or after `cutoffMs` (always ≥ 1 — the current
    * snapshot never expires). Snapshot timestamps are monotone in
    * commit order, so this equals "expire everything older than the
    * cutoff". */
  def keepCountSince(spark: SparkSession, tablePath: String,
                     cutoffMs: Long): Int =
    math.max(1, snapshotEntries(spark, tablePath).count(_._2 >= cutoffMs))

  def expireSnapshots(spark: SparkSession, tablePath: String,
                      keepSnapshots: Int = 1,
                      olderThanMs: Option[Long] = None): Seq[String] = {
    require(keepSnapshots >= 1, "must keep at least the current snapshot")
    // early `return`s inside the attempt abort the CAS commit-free
    // (non-local return unwinds casCommit before anything is written)
    var victimsOut: Seq[String] = Seq.empty
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
    val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table: $tablePath"))
    // a MIRROR only adopted its data files — physical cleanup through
    // the view would delete the OWNING table's data out from under it
    Option(meta.get("properties"))
      .flatMap(p => Option(p.get("graft.mirror-of"))).foreach { src =>
        throw new UnsupportedOperationException(
          s"$tablePath is a zero-copy mirror of ${src.asText()} — expire " +
            "or vacuum through the owning table, never through the mirror")
      }
    val snaps = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala).toSeq
    if (snaps.size <= keepSnapshots) return Seq.empty
    val cur = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).getOrElse(-1L)
    // refs pin their snapshots; an UNPUBLISHED write-audit-publish
    // snapshot (wap.id summary, never current, never logged) must
    // also survive — expiring the audit data before the publish
    // decision would defeat the pattern
    val refPinned: Set[Long] = Option(meta.get("refs")).toSeq
      .flatMap(_.fields().asScala)
      .map(_.getValue.get("snapshot-id").asLong()).toSet
    val logged: Set[Long] = Option(meta.get("snapshot-log")).toSeq
      .flatMap(_.elements().asScala)
      .map(_.get("snapshot-id").asLong()).toSet
    val stagedWap: Set[Long] = snaps.filter { n =>
      Option(n.get("summary")).exists(_.has("wap.id")) && {
        val id = n.get("snapshot-id").asLong()
        id != cur && !logged.contains(id)
      }
    }.map(_.get("snapshot-id").asLong()).toSet
    // `olderThanMs` (the procedure's older_than form): snapshots at or
    // after the cutoff always survive, ON TOP of the trailing
    // keepSnapshots floor — the exact composition real expire uses
    val aged: Set[Long] = olderThanMs.map(cut => snaps
      .filter(_.get("timestamp-ms").asLong() >= cut)
      .map(_.get("snapshot-id").asLong()).toSet).getOrElse(Set.empty)
    val keepIds = snaps.sortBy(n =>
      (n.get("timestamp-ms").asLong(), n.get("snapshot-id").asLong()))
      .takeRight(keepSnapshots)
      .map(_.get("snapshot-id").asLong()).toSet ++
      Option(cur).filter(_ != -1L) ++ refPinned ++ stagedWap ++ aged
    val (kept, expired) =
      snaps.partition(n => keepIds(n.get("snapshot-id").asLong()))
    if (expired.isEmpty) return Seq.empty
    // statistics entries bind to snapshots — drop them with their
    // snapshots (the Puffin files become orphan-cleanup fodder)
    if (meta.has("statistics")) {
      val expIds = expired.map(_.get("snapshot-id").asLong()).toSet
      val keepStats = meta.get("statistics").elements().asScala
        .filterNot(e => expIds(e.get("snapshot-id").asLong()))
        .map(_.deepCopy[JsonNode]()).toSeq
      val arr = meta.putArray("statistics")
      keepStats.foreach(arr.add)
    }

    val keptRefs = kept.map(referencedPaths(spark, _))
    val expRefs = expired.map(referencedPaths(spark, _))
    def union(xs: Seq[(Set[String], Set[String], Set[String])]) =
      (xs.flatMap(_._1).toSet, xs.flatMap(_._2).toSet, xs.flatMap(_._3).toSet)
    val (keptLists, keptManifests, keptFiles) = union(keptRefs)
    val (expLists, expManifests, expFiles) = union(expRefs)
    val victims = ((expLists -- keptLists) ++
      (expManifests -- keptManifests) ++ (expFiles -- keptFiles)).toSeq.sorted

    // survivor-only metadata, committed as v+1 (exclusive create)
    val snapsArr = M.createArrayNode()
    kept.foreach(snapsArr.add)
    meta.set[JsonNode]("snapshots", snapsArr)
    val logArr = M.createArrayNode()
    Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala)
      .filter(e => keepIds(e.get("snapshot-id").asLong()))
      .foreach(logArr.add)
    meta.set[JsonNode]("snapshot-log", logArr)
    meta.put("last-updated-ms", System.currentTimeMillis())
    victimsOut = victims
    (meta, metaVersion + 1)
    }
    // physical deletes strictly AFTER the commit landed: a lost race
    // recomputes the victim set against the winner's state first
    val fs = fsFor(spark, metaDir(tablePath))
    victimsOut.foreach(v => fs.delete(new Path(v), false))
    victimsOut
  }

  /** MANIFEST COMPACTION — the metadata-side OPTIMIZE for the
    * Iceberg flavor: merge the current snapshot's data manifests into
    * ONE manifest and commit it as a new `replace` snapshot
    * referencing the SAME data files, carried as status=existing
    * entries with their ORIGINAL sequence numbers (so any future
    * delete-file scoping still compares against the true data
    * sequence). No data moves, prior snapshots stay readable, the
    * file-level change feed across the new snapshot is empty — but
    * read planning drops from O(manifests) avro opens to one, which
    * is what decays first on a frequently-appended 100 TB table.
    * Delete-bearing snapshots are refused loudly (compact data via
    * copy-on-write first). Returns the new snapshot id, or the
    * current one when the table is already compact. */
  def rewriteManifests(spark: SparkSession, tablePath: String): Long = {
    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val snap = snapshot(spark, tablePath)
      require(snap.snapshotId != -1L,
        s"cannot rewrite manifests of empty table $tablePath")
      require(snap.deletes.isEmpty,
        s"$tablePath carries v2 delete files — compact the data " +
          "(copy-on-write) before rewriting manifests")
      val curNode = snapshotNodes(meta).find(
        _.get("snapshot-id").asLong() == snap.snapshotId).get
      if (carriedManifests(spark, curNode).size <= 1) return snap.snapshotId
      val ns = nextSnapshot(baseMeta)
      // ONE manifest holding every live data file as an EXISTING entry
      // with its original sequence number; column stats AND partition
      // tuples carry forward (compaction must lose neither pruning leg)
      val mf = existingFilesManifest(spark, metaDir(tablePath),
        s"rw-${ns.tok}-${ns.id}", M.writeValueAsString(currentSchemaNode(meta)),
        snap, snap.files, ns.id, ns.seq,
        Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0),
        "rewrite manifests of")
      putSnapshot(spark, tablePath, meta, baseMeta, ns, Seq(mf),
        Seq("operation" -> "replace"), claimed = None)
      (meta, ns.id)
    }
  }

  /** Compact the table's data files — the OPTIMIZE twin for the
    * Iceberg flavor (Iceberg's own `rewrite_data_files` action,
    * spec §"Snapshots" `replace` operation). Reads the LIVE rows of
    * the current snapshot (merge-on-read position + equality deletes
    * applied) and commits ONE `replace` snapshot whose fresh data
    * manifest supersedes every prior data AND delete manifest: a
    * small-file pile collapses toward `targetFileBytes` files, and
    * the delete pile a MOR-heavy workload accumulates is folded away,
    * so subsequent scans are anti-join-free. Old files stay on disk
    * for time travel until [[expireSnapshots]].
    *
    * PARTITIONED tables bin-pack PER PARTITION: each partition tuple
    * compacts to ≤ ceil(partition bytes / target) files under the
    * current spec's transform layout (files written under older specs
    * migrate to the current layout), with transform pruning intact
    * afterwards. The plan is one shuffle keyed on (partition tuple,
    * proportional salt) — a huge partition still splits across
    * executors instead of funneling through one task. Returns the new
    * snapshot id. */
  def rewriteDataFiles(spark: SparkSession, tablePath: String,
                       targetFileBytes: Long = 128L << 20): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L, s"cannot compact empty table $tablePath")
    // v3 ROW LINEAGE tables compact ID-PRESERVINGLY: each row's
    // current `_row_id` (materialized column, or first_row_id +
    // position) is written INTO the rewritten parquet as the spec's
    // materialized `_row_id` column, and the new file entries claim
    // no fresh ranges — readers serve the column, so every id is
    // identical before and after the rewrite (spec v3 §Row Lineage).
    // Table-level gate: post-compaction entries carry no
    // first_row_id, so a per-file existence check would flip false
    // after ONE full compaction and the next rewrite would re-key
    // every row.
    val lineage = snap.rowLineage
    val pfs = snap.specFields
    val outFields: Seq[String] = snap.schema.fieldNames.toSeq ++
      (if (lineage) LineageCols else Nil)
    def liveRows: DataFrame =
      if (!lineage) {
        (if (snap.deletes.isEmpty)
          rawFrame(spark, snap, snap.files, withPos = false)
        else liveRowsWithPos(spark, snap, snap.files))
          .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
      } else {
        val frMap = broadcast(snap.files
          .map(f => (fileKey(f.path), f.firstRowId.getOrElse(-1L),
            f.firstRowId.isDefined))
          .toDF("__path", "__first_rid", "__has_rid"))
        liveRowsWithPos(spark, withRowIdColumn(snap), snap.files)
          .join(frMap, Seq("__path"), "left")
          .withColumn("__rid_out",
            coalesce(col("_row_id"),
              when(col("__has_rid"), col("__first_rid") + col("__ri"))))
          .withColumn("__seq_out",
            coalesce(col("_last_updated_sequence_number"),
              when(col("__has_rid"), col("__dataseq"))))
          .drop("_row_id", "_last_updated_sequence_number")
          .withColumnRenamed("__rid_out", "_row_id")
          .withColumnRenamed("__seq_out", "_last_updated_sequence_number")
          .select(outFields.map(col).toIndexedSeq: _*)
      }

    // SORT-ORDER-PRESERVING compaction (real Iceberg's rewrite `sort`
    // strategy, keyed on `default-sort-order-id`): a `WRITE ORDERED
    // BY` table compacts through RANGE distribution + local sort, so
    // the rewritten files keep tight, NON-OVERLAPPING bounds on the
    // sort key — bin-packing would silently destroy the clustering
    // (and the data skipping it feeds) until the next ordered write.
    // snap.sortOrder is already identity-only/resolvable (else empty).
    val soCols = snap.sortOrder.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }
    val compacted: Option[DataFrame] =
      if (pfs.isEmpty) {
        val totalBytes = snap.files.map(_.sizeBytes).sum
        val n = math.max(1L,
          (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        // already compact and delete-free: no pointless commit
        if (snap.deletes.isEmpty && snap.files.size <= n) None
        else if (soCols.nonEmpty)
          Some(liveRows.repartitionByRange(n, soCols: _*)
            .sortWithinPartitions(soCols: _*))
        // coalesce, not repartition: bin-packing small files is a
        // narrow dependency — no shuffle in the compaction job
        else Some(liveRows.coalesce(n))
      } else {
        // per-partition target file counts from the manifests'
        // recorded sizes (current-spec files; older-spec rows fold
        // into whatever tuple they map to, with a k=1 default)
        def keyOf(t: Map[String, Any]): String = pfs.map(pf =>
          Option(t.getOrElse(pf.name, null)).map(_.toString)
            .getOrElse("\u0000null")).mkString("\u001F")
        val curSpec = snap.files.filter(_.specId == snap.defaultSpecId)
        val kByKey: Map[String, Int] =
          curSpec.groupBy(f => keyOf(f.partitionTuple)).map { case (k, fs) =>
            k -> math.max(1L, (fs.map(_.sizeBytes).sum + targetFileBytes - 1)
              / targetFileBytes).toInt
          }
        val alreadyPacked = snap.deletes.isEmpty &&
          snap.files.forall(_.specId == snap.defaultSpecId) &&
          curSpec.groupBy(f => keyOf(f.partitionTuple))
            .forall { case (k, fs) => fs.size <= kByKey(k) }
        if (alreadyPacked) None
        else {
          // transform staging columns + the same string key rendering
          // as keyOf (manifest tuples and staged values both stringify
          // through their JVM toString)
          val staged = pfs.zipWithIndex.map { case (pf, i) =>
            s"__gpt_$i" -> IcebergPartitioning.stagingColumn(
              pf, snap.schema(pf.source).dataType)
          }
          var df = liveRows
          staged.foreach { case (n, c) => df = df.withColumn(n, c) }
          val total = math.max(kByKey.values.sum, 1)
          if (soCols.nonEmpty) {
            // ordered table: range-distribute on (partition fields,
            // sort key) — each partition dir's rows land contiguously
            // and split between adjacent ranges BY the sort key, so
            // every output file's sort-key bounds are non-overlapping
            // within its partition (file sizing becomes row-count-
            // proportional; the even range split replaces the salt)
            val rangeCols = staged.map(s => col(s._1).asc) ++ soCols
            Some(df.repartitionByRange(total, rangeCols: _*)
              .sortWithinPartitions(rangeCols: _*)
              .select(outFields.map(col).toIndexedSeq: _*))
          } else {
            val keyCol = concat_ws("\u001F", staged.map { case (n, _) =>
              coalesce(col(n).cast("string"), lit("\u0000null"))
            }: _*)
            val kDf = broadcast(kByKey.toSeq.toDF("__gpk", "__gpn"))
            val salted = df.withColumn("__gpkey", keyCol)
              .join(kDf, col("__gpkey") === col("__gpk"), "left")
              .withColumn("__gps",
                pmod(hash(snap.schema.fieldNames.map(col).toIndexedSeq: _*),
                  greatest(coalesce(col("__gpn"), lit(1)), lit(1))))
            Some(salted
              .repartition(total,
                staged.map(s => col(s._1)) :+ col("__gps"): _*)
              .select(outFields.map(col).toIndexedSeq: _*))
          }
        }
      }
    compacted match {
      case None => snap.snapshotId
      case Some(df) =>
        commitMorSnapshot(spark, tablePath, snap, rows = Seq.empty,
          appendDf = Some(df), operation = "replace",
          carryExisting = false, preserveRowIds = lineage,
          // the compaction frame is ALREADY shaped (per-partition
          // bin-packing salt / sort-order range split) — a rebalance
          // here would undo the deliberate file sizing
          clusterStaging = false)
    }
  }

  /** DELETE-FILE COMPACTION without a data rewrite — Iceberg's
    * `rewrite_position_delete_files` maintenance procedure: a table
    * taking streaming MOR DELETE/UPDATE traffic accumulates a pile of
    * small position-delete files over mostly-cold data; folding the
    * pile into few files (and DROPPING dangling rows whose referenced
    * data files are no longer live) keeps MOR reads cheap — one small
    * anti-join side, one [[graft.sources.MorServing]] DeleteFileCache
    * entry — without paying [[rewriteDataFiles]]'s full data rewrite.
    *
    * DATA manifests carry completely unchanged (every data file keeps
    * its path, stats, partition tuple and sequence number). The
    * DELETE side is rebuilt: all position-delete content merges into
    * ceil(pile bytes / targetFileBytes) files, range-partitioned and
    * sorted by (file_path, pos) with per-file `file_path` bounds
    * (spec field 2147483546), committed at the NEW snapshot's
    * sequence number — sound for POSITION deletes because they match
    * by exact (path, pos) and data-file paths are never reused, so a
    * higher sequence number cannot over-apply. EQUALITY-delete files
    * carry as EXISTING entries with their ORIGINAL sequence numbers
    * (value matching IS seq-scoped — renumbering would re-delete rows
    * written after the original delete).
    *
    * Scale shape: ONE distributed job over the delete pile (read →
    * live-path semi-join against the broadcast file list → range
    * shuffle → sorted write); driver work is O(delete files +
    * manifests). Returns the new snapshot id, or the current one when
    * the pile is already one clean file. */
  def rewritePositionDeleteFiles(spark: SparkSession, tablePath: String,
                                 targetFileBytes: Long = 32L << 20): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snap = snapshot(spark, tablePath)
    require(snap.snapshotId != -1L,
      s"cannot rewrite delete files of empty table $tablePath")
    val allPos = snap.deletes.filter(_.content == 1)
    if (allPos.isEmpty) return snap.snapshotId
    val fs = fsFor(spark, new Path(tablePath))
    val mdir = metaDir(tablePath)
    val livePaths = snap.files.map(_.path).toSet
    // v3 DELETION VECTORS are already one blob per data file — this
    // maintenance only DROPS DANGLING ones (their referenced data
    // file left the table) and carries the live ones as EXISTING;
    // the parquet pile merges as before
    val (dvFiles, posFiles) = allPos.partition(_.isDv)
    val (liveDvs, danglingDvs) =
      dvFiles.partition(_.referencedDataFile.exists(livePaths))

    // merge the pile, dropping dangling rows and duplicate positions
    // (overlapping DML commits may have deleted the same row twice).
    // GATE-BOUNDED one-output piles merge ON THE DRIVER (parquet-mr
    // read + write, zero Spark jobs): the pile's exact row total is
    // already in the manifests, and the same cardinality bound that
    // keeps MOR position collects driver-safe bounds this merge.
    // Larger piles (or a multi-file target split) keep the
    // distributed merge.
    val pileRows = posFiles.map(_.records).sum
    val nOut = math.max(1L, (posFiles.map(_.sizeBytes).sum +
      targetFileBytes - 1) / targetFileBytes).toInt
    val morGate = Option(spark.conf.get("spark.graft.mor.maxDeleteRows", null))
      .map(_.toLong).getOrElse(50000L)
    val driverMerged: Option[Seq[(String, Long)]] =
      if (posFiles.isEmpty || nOut != 1 || pileRows > morGate) None
      else Some(PosDeleteIo.readAll(
        spark.sparkContext.hadoopConfiguration, posFiles.map(_.path))
        .filter(r => livePaths(r._1)).distinct)
    lazy val kept: DataFrame = {
      val pile = spark.read.schema(PosDeleteReadSchema)
        .parquet(posFiles.map(_.path): _*)
        .select(col("file_path").cast("string").as("file_path"),
          col("pos").cast("long").as("pos"))
      val liveDf = broadcast(livePaths.toSeq.toDF("__live"))
      pile.join(liveDf, col("file_path") === col("__live"),
        "left_semi").dropDuplicates("file_path", "pos")
    }
    // the already-one-clean-file early exit is the ONLY consumer of an
    // exact pre-write count — free on the driver path; the distributed
    // path pays that job just on its candidate shape (≤1 pos file, no
    // dangling DVs) instead of before every rewrite
    if (posFiles.size <= 1 && danglingDvs.isEmpty &&
      (posFiles.isEmpty || driverMerged.map(_.size.toLong == pileRows)
        .getOrElse(kept.count() == pileRows)))
      return snap.snapshotId // already one clean file, nothing dangling

    // stage the merged delete parquet (attempt-invariant; unique names)
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val staged: Seq[(String, Long, Long, (String, String))] =
      if (posFiles.isEmpty) Seq.empty
      else if (driverMerged.isDefined) {
        val m = driverMerged.get
        if (m.isEmpty) Seq.empty
        else {
          val dst = fs.makeQualified(new Path(
            new Path(tablePath, "data"), s"d$tok-pos-delete-0.parquet"))
          fs.mkdirs(dst.getParent)
          PosDeleteIo.writeSorted(
            spark.sparkContext.hadoopConfiguration, dst, m)
          implicit val utf8Order: Ordering[String] =
            Ordering.comparatorToOrdering(
              java.util.Comparator.comparing((s: String) =>
                org.apache.spark.unsafe.types.UTF8String.fromString(s)))
          val ref = m.map(_._1)
          Seq((dst.toString, fs.getFileStatus(dst).getLen,
            m.size.toLong, (ref.min, ref.max)))
        }
      } else {
        val tmp = new Path(tablePath,
          s".tmp-dc-$tok-${java.util.UUID.randomUUID()}")
        // one output file needs no range partitioner (and no sampling
        // job): shuffle-to-one + local sort is the same sorted bytes
        val shaped =
          if (nOut == 1) kept.repartition(1)
            .sortWithinPartitions("file_path", "pos")
          else kept.repartitionByRange(nOut, col("file_path"), col("pos"))
            .sortWithinPartitions("file_path", "pos")
        StagingWrite.parquet(shaped, tmp.toString)
        // per staged part: row count + file_path bounds (tight bounds
        // keep the planner's interval sweep attaching each compacted
        // file only to the data files it names)
        val tmpQ = fs.makeQualified(tmp).toString
        val stats: Map[String, (Long, String, String)] =
          spark.read.schema(PosDeleteReadSchema).parquet(tmp.toString)
            .groupBy(input_file_name().as("__f"))
            .agg(count(lit(1)).as("n"), min("file_path").as("lo"),
              max("file_path").as("hi"))
            .collect().map { r =>
              (fs.makeQualified(new Path(new java.net.URI(r.getString(0))))
                .toString.stripPrefix(tmpQ).stripPrefix("/"),
                (r.getLong(1), r.getString(2), r.getString(3)))
            }.toMap
        val parts = fs.listStatus(tmp).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val adopted = parts.zipWithIndex.flatMap { case (st, i) =>
          val rel = st.getPath.getName
          stats.get(rel).filter(_._1 > 0L).map { case (n, lo, hi) =>
            val dst = fs.makeQualified(new Path(
              new Path(tablePath, "data"), s"d$tok-pos-delete-$i.parquet"))
            fs.mkdirs(dst.getParent)
            if (!fs.rename(st.getPath, dst))
              throw new IllegalStateException(s"rename failed for $dst")
            (dst.toString, fs.getFileStatus(dst).getLen, n, (lo, hi))
          }
        }
        fs.delete(tmp, true)
        adopted
      }
    val eqFiles = snap.deletes.filter(_.content == 2)

    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalStateException(
        s"no metadata for $tablePath"))
      // the merged content was computed against `snap` — like a data
      // compaction, any concurrent advance invalidates it (a new MOR
      // DELETE's rows would be silently dropped from the merge)
      if (!currentSnapshotId(meta).contains(snap.snapshotId)) throw new CommitConflictException(
        "ConcurrentWrite",
        s"$tablePath: a concurrent commit advanced the table under " +
          "rewrite_position_delete_files — re-run against the new state")
      val ns = nextSnapshot(baseMeta)
      val curNode = snapshotNodes(meta).find(
        _.get("snapshot-id").asLong() == snap.snapshotId).get
      val schemaJson = M.writeValueAsString(currentSchemaNode(meta))
      val unpartSpec = unpartitionedSpecId(meta, snap.defaultSpecId,
        snap.specFields.nonEmpty)
      val posManifest: Option[GenericRecord] =
        if (staged.isEmpty) None
        else Some(writeDeleteManifest(spark, mdir, s"dc-${ns.tok}-${ns.id}",
          schemaJson,
          staged.map { case (pth, len, n, _) => (pth, len, n, 1, Seq.empty) },
          ns.id, ns.seq, specId = unpartSpec,
          pathBounds = staged.map { case (pth, _, _, b) => pth -> b }.toMap))
      val eqManifest: Option[GenericRecord] =
        if (eqFiles.isEmpty) None
        else Some(writeDeleteManifest(spark, mdir, s"dceq-${ns.tok}-${ns.id}",
          schemaJson,
          eqFiles.map(f => (f.path, f.sizeBytes, f.records, 2, f.equalityIds)),
          ns.id, ns.seq, specId = unpartSpec,
          existingSeqs = eqFiles.map(f => f.path -> f.seq).toMap))
      // live DVs carry as EXISTING with original seqs; dangling ones
      // simply do not re-appear (their Puffin bytes become orphans
      // for remove_orphan_files once no snapshot references them)
      val dvManifest: Option[GenericRecord] =
        if (liveDvs.isEmpty) None
        else Some(writeDeleteManifest(spark, mdir, s"dcdv-${ns.tok}-${ns.id}",
          schemaJson,
          liveDvs.map(d => (d.path, d.sizeBytes, d.records, 1,
            Seq.empty[Int])),
          ns.id, ns.seq, specId = unpartSpec,
          existingSeqs = liveDvs.map(d => d.path -> d.seq).toMap,
          dvRefs = liveDvs.map(d => for {
            r <- d.referencedDataFile; o <- d.contentOffset
            s2 <- d.contentSize
          } yield (r, o, s2))))
      // DATA manifests carry verbatim; the delete side is rebuilt
      putSnapshot(spark, tablePath, meta, baseMeta, ns,
        carriedManifests(spark, curNode)
          .filter(m => longOf(m.get("content")) == 0L) ++
          posManifest.toSeq ++ eqManifest.toSeq ++ dvManifest.toSeq,
        Seq("operation" -> "replace"), claimed = None)
      (meta, ns.id)
    }
  }

  /** `remove_orphan_files` — delete files under the table location
    * that NO snapshot references (crashed writes, lost CAS races'
    * staged data, abandoned compaction outputs). Safety rails match
    * the real procedure: only files OLDER than `olderThanMs` are
    * eligible (default 3 days — an in-flight writer's staged-but-
    * uncommitted files must never be reaped), metadata files
    * (`v*.metadata.json`, `version-hint.text`) and in-progress `.tmp-*`
    * staging dirs are never touched, and the reference set spans
    * EVERY snapshot in the metadata (manifest lists, manifests, data
    * and delete files), so time travel survives. Driver work is
    * O(snapshots × manifests + files-on-disk) metadata I/O — the same
    * bounded walk expireSnapshots does. Returns the deleted paths. */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
                        olderThanMs: Long = System.currentTimeMillis() -
                          3L * 24 * 3600 * 1000): Seq[String] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("properties"))
      .flatMap(p => Option(p.get("graft.mirror-of"))).foreach { src =>
        throw new UnsupportedOperationException(
          s"$tablePath is a zero-copy mirror of ${src.asText()} — orphan " +
            "cleanup must run on the owning table")
      }
    val fs = fsFor(spark, new Path(tablePath))
    def deScheme(p: String) = p.replaceFirst("^[a-zA-Z0-9]+:(//)?", "")
    val snaps = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala).toSeq
    val referenced: Set[String] = snaps.flatMap { sn =>
      val (lists, manifests, files) = referencedPaths(spark, sn)
      lists ++ manifests ++ files
    }.map(deScheme).toSet ++
      // Puffin statistics files referenced by table metadata are NOT
      // orphans — they live outside the snapshot graph by design
      Option(meta.get("statistics")).toSeq
        .flatMap(_.elements().asScala)
        .map(e => deScheme(e.get("statistics-path").asText())).toSet
    val victims = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!name.startsWith(".tmp-")) walk(st.getPath)
      } else if (!name.endsWith(".metadata.json") &&
        name != "version-hint.text" &&
        st.getModificationTime < olderThanMs &&
        !referenced.contains(
          deScheme(fs.makeQualified(st.getPath).toString))) {
        victims += fs.makeQualified(st.getPath).toString
      }
    }
    walk(new Path(tablePath))
    victims.foreach(v => fs.delete(new Path(v), false))
    victims.toSeq
  }

  // ------------- table statistics (ANALYZE → Puffin) ---------------

  /** `ANALYZE TABLE` — compute per-column NDV sketches for the
    * CURRENT snapshot and publish them the way real Iceberg does: one
    * PUFFIN statistics file ([[Puffin]]) holding a [[KmvSketch]] per
    * column (blob type `graft-kmv-v1` — unknown blob types are
    * skippable by the format's design) with the standard `ndv`
    * property on each blob's metadata — the value engines (Trino,
    * Spark-Iceberg CBO) actually consume — plus a `statistics` entry
    * in table metadata binding the file to the analyzed snapshot.
    *
    * Scan shape: one combiner-reduced distinct shuffle of 8-byte
    * XXH64 hashes per analyzed column — a maintenance scan, like
    * rewrite_data_files; never a driver-side row pass. Re-analyzing
    * a snapshot REPLACES its entry; [[expireSnapshots]] drops entries
    * with their snapshots and [[removeOrphanFiles]] never reaps a
    * referenced statistics file. */
  def analyzeTable(spark: SparkSession, tablePath: String,
                   columns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, tablePath)
    val meta0 = readJson(spark, latestMetadataFile(spark, tablePath))
    val seqNum = Option(meta0.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == snap.snapshotId)
      .flatMap(n => Option(n.get("sequence-number")).map(_.asLong()))
      .getOrElse(0L)
    val nameToId: Map[String, Int] =
      snap.fieldNames.map { case (id, n) => n -> id }
    val targets: Seq[String] =
      if (columns.nonEmpty) columns else snap.schema.fields.map(_.name).toSeq
    targets.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"unknown column $c on $tablePath"))
    val df = read(spark, tablePath)
    val k = KmvSketch.DefaultK
    val blobs = targets.map { c =>
      val mins = df.where(col(c).isNotNull)
        .select(xxhash64(col(c)).as("h"))
        .distinct()
        // unsigned 64-bit order: flip the sign bit
        .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)))
        .limit(k)
        .collect().map(_.getLong(0)).toSeq
      val ndv = KmvSketch.estimate(k, mins)
      Puffin.Blob("graft-kmv-v1", Seq(nameToId.getOrElse(c, -1)),
        snap.snapshotId, seqNum, KmvSketch.serialize(k, mins),
        Map("ndv" -> ndv.toString))
    }
    val fs = fsFor(spark, new Path(tablePath))
    val statsPath = new Path(new Path(tablePath, "metadata"),
      s"${java.util.UUID.randomUUID()}.stats")
    val (fileSize, footerSize, metas) = Puffin.write(fs, statsPath, blobs,
      Map("created-by" -> "graft"))
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val keep = Option(meta.get("statistics")).toSeq
        .flatMap(_.elements().asScala)
        .filter(_.get("snapshot-id").asLong() != snap.snapshotId)
        .map(_.deepCopy[JsonNode]()).toSeq
      val stats = meta.putArray("statistics")
      keep.foreach(stats.add)
      val e = stats.addObject()
      e.put("snapshot-id", snap.snapshotId)
      e.put("statistics-path", fs.makeQualified(statsPath).toString)
      e.put("file-size-in-bytes", fileSize)
      e.put("file-footer-size-in-bytes", footerSize.toLong)
      val bms = e.putArray("blob-metadata")
      metas.foreach { m =>
        val b = bms.addObject()
        b.put("type", m.blobType)
        val f = b.putArray("fields"); m.fields.foreach(f.add)
        b.put("snapshot-id", m.snapshotId)
        b.put("sequence-number", m.sequenceNumber)
        val p = b.putObject("properties")
        m.properties.toSeq.sortBy(_._1).foreach { case (kk, vv) =>
          p.put(kk, vv) }
      }
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, metaVersion + 1)
    }
  }

  /** NDV per column from the table's `statistics` (the current
    * snapshot's entry, else the most recent one — the spec allows
    * serving slightly-stale stats). Empty when never analyzed. */
  def columnStats(spark: SparkSession, tablePath: String): Map[String, Long] =
    columnStats(spark, tablePath, snapshot(spark, tablePath).fieldNames)

  /** As [[columnStats]], with the field-id→name map supplied by a
    * caller that already resolved the snapshot (the DSv2 scan feeds
    * Spark's CBO from here — it must not pay a second snapshot
    * resolution for it). */
  def columnStats(spark: SparkSession, tablePath: String,
                  idToName: Map[Int, String]): Map[String, Long] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    val entries = Option(meta.get("statistics")).toSeq
      .flatMap(_.elements().asScala).toSeq
    if (entries.isEmpty) return Map.empty
    val cur = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).getOrElse(-1L)
    val entry = entries.find(_.get("snapshot-id").asLong() == cur)
      .getOrElse(entries.last)
    val fromMeta: Map[String, Long] = Option(entry.get("blob-metadata")).toSeq
      .flatMap(_.elements().asScala).flatMap { b =>
        for {
          ndv <- Option(b.get("properties")).flatMap(p => Option(p.get("ndv")))
          fid <- Option(b.get("fields")).toSeq
            .flatMap(_.elements().asScala).headOption
        } yield idToName.getOrElse(fid.asInt(), s"#${fid.asInt()}") ->
          ndv.asText().toLong
      }.toMap
    // FOREIGN stats fallback: the `ndv` blob property is the spec's
    // cross-engine contract, but some writers record it only in the
    // PUFFIN FOOTER's blob properties, not mirrored into the table
    // metadata's blob-metadata — read the footer then (one small
    // ranged read; ANY blob type, `apache-datasketches-theta-v1`
    // included). A theta blob WITHOUT the optional property still
    // contributes: its sketch BODY decodes to the estimate
    // ([[Puffin.thetaEstimate]] — one ranged blob read per gap).
    // Metadata-mirrored values win; the footer only fills gaps.
    val fromFooter: Map[String, Long] =
      if (fromMeta.size >= idToName.size) Map.empty
      else Option(entry.get("statistics-path")).map(_.asText()).toSeq
        .flatMap { sp =>
          try {
            val pp = new Path(sp)
            val pfs = pp.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            Puffin.readFooter(pfs, pp)._1.flatMap { b =>
              for {
                ndv <- b.properties.get("ndv").flatMap(_.toLongOption)
                  .orElse {
                    if (b.blobType != "apache-datasketches-theta-v1") None
                    else Puffin.thetaEstimate(Puffin.readBlob(pfs, pp, b))
                  }
                fid <- b.fields.headOption
              } yield idToName.getOrElse(fid, s"#$fid") -> ndv
            }
          } catch { case _: Exception => Seq.empty } // stats are advisory
        }.toMap
    fromFooter ++ fromMeta
  }

  /** Named snapshot REFS — Iceberg branches and tags (spec §"Refs"):
    * the metadata `refs` map pins snapshots by name. A TAG is an
    * immutable audit/release pointer; a BRANCH is a movable head
    * ([[fastForwardBranch]]). Reads resolve refs through
    * [[refSnapshotId]] (`VERSION AS OF 'name'` on the SQL surface),
    * and [[expireSnapshots]] keeps every ref-pinned snapshot alive.
    * One metadata-version commit each; [[IcebergTable.write]] carries
    * the refs map through (a rebuilt root never drops them). */
  /** The DEFAULT sort order as `(source column, ascending)` pairs —
    * METADATA-JSON-ONLY (no manifest parsing; the write path consults
    * this on every append and must not pay a snapshot resolution for
    * it). Same identity-transforms-only contract as
    * [[Snapshot.sortOrder]]. */
  private[sources] def defaultSortOrder(spark: SparkSession,
                                        tablePath: String): Seq[(String, Boolean)] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    val soId = Option(meta.get("default-sort-order-id"))
      .map(_.asInt()).getOrElse(0)
    if (soId == 0) return Seq.empty
    val curSchemaId = Option(meta.get("current-schema-id"))
      .map(_.asInt()).getOrElse(0)
    val curIds: Map[Int, String] =
      Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala)
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == curSchemaId))
        .toSeq.flatMap(s => Option(s.get("fields")).toSeq
          .flatMap(_.elements().asScala))
        .filter(f => f.has("id") && f.has("name"))
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val fields = Option(meta.get("sort-orders")).toSeq
      .flatMap(_.elements().asScala)
      .find(o => Option(o.get("order-id")).exists(_.asInt() == soId)).toSeq
      .flatMap(o => Option(o.get("fields")).toSeq
        .flatMap(_.elements().asScala))
    val parsed = fields.map { f =>
      curIds.get(f.get("source-id").asInt())
        .filter(_ => f.get("transform").asText() == "identity")
        .map(n => (n, f.get("direction").asText() != "desc"))
    }
    if (parsed.nonEmpty && parsed.forall(_.isDefined)) parsed.map(_.get)
    else Seq.empty
  }

  /** `ALTER TABLE … WRITE ORDERED BY (c1 [ASC|DESC], …)` — set the
    * table's DEFAULT SORT ORDER (spec §Sorting): one metadata commit
    * registering a new order (identity transforms over current
    * columns; ASC pairs with nulls-first, DESC with nulls-last — the
    * spec's defaults) and pointing `default-sort-order-id` at it.
    * `order = Nil` resets to unsorted (order 0). Sort orders are
    * advisory: [[write]] honors the default order by range-
    * partitioning + locally sorting its staged files, which is what
    * tightens per-file column bounds and makes metadata skipping on
    * the sort column effective at scale. Returns the order id. */
  def setWriteOrder(spark: SparkSession, tablePath: String,
                    order: Seq[(String, Boolean)]): Long =
    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val curSchemaId = Option(meta.get("current-schema-id"))
        .map(_.asInt()).getOrElse(0)
      val nameToId: Map[String, Int] =
        Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala)
          .find(s => Option(s.get("schema-id")).exists(_.asInt() == curSchemaId))
          .toSeq.flatMap(s => Option(s.get("fields")).toSeq
            .flatMap(_.elements().asScala))
          .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
      order.foreach { case (c, _) => require(nameToId.contains(c),
        s"WRITE ORDERED BY column $c is not in $tablePath's schema") }
      val ordersArr = Option(meta.get("sort-orders"))
        .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode])
        .getOrElse {
          val a = meta.putArray("sort-orders")
          a.addObject().put("order-id", 0).putArray("fields")
          a
        }
      val newId: Long =
        if (order.isEmpty) 0L
        else {
          val id = ordersArr.elements().asScala
            .map(_.get("order-id").asInt()).foldLeft(0)(math.max) + 1
          val o = ordersArr.addObject()
          o.put("order-id", id)
          val fs = o.putArray("fields")
          order.foreach { case (c, asc) =>
            val f = fs.addObject()
            f.put("transform", "identity")
            f.put("source-id", nameToId(c))
            f.put("direction", if (asc) "asc" else "desc")
            f.put("null-order", if (asc) "nulls-first" else "nulls-last")
          }
          id.toLong
        }
      meta.put("default-sort-order-id", newId)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, newId)
    }

  def createTag(spark: SparkSession, tablePath: String, name: String,
                snapshotId: Long): Long =
    setRef(spark, tablePath, name, snapshotId, "tag", allowMove = false)

  def createBranch(spark: SparkSession, tablePath: String, name: String,
                   snapshotId: Long): Long =
    setRef(spark, tablePath, name, snapshotId, "branch", allowMove = false)

  /** Move a BRANCH head to a newer snapshot (the publish step of the
    * audit pattern; tags never move). */
  def fastForwardBranch(spark: SparkSession, tablePath: String,
                        name: String, toSnapshotId: Long): Long =
    setRef(spark, tablePath, name, toSnapshotId, "branch", allowMove = true)

  private def setRef(spark: SparkSession, tablePath: String, name: String,
                     snapshotId: Long, refType: String,
                     allowMove: Boolean): Long = {
    require(name.nonEmpty && name != "main", s"invalid ref name '$name'")
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val snapIds = Option(meta.get("snapshots")).toSeq
        .flatMap(_.elements().asScala)
        .map(_.get("snapshot-id").asLong()).toSet
      require(snapIds.contains(snapshotId),
        s"snapshot $snapshotId is not in $tablePath's snapshots list")
      val refsNode =
        if (meta.has("refs")) meta.get("refs").asInstanceOf[ObjectNode]
        else meta.putObject("refs")
      Option(refsNode.get(name)).foreach { existing =>
        val t = existing.get("type").asText()
        require(allowMove && t == "branch",
          s"ref '$name' already exists on $tablePath as a $t — " +
            (if (t == "tag") "tags are immutable (drop + recreate)"
             else "move a branch with fastForwardBranch"))
      }
      val r = refsNode.putObject(name)
      r.put("snapshot-id", snapshotId)
      r.put("type", refType)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, metaVersion + 1)
    }
  }

  def dropRef(spark: SparkSession, tablePath: String, name: String): Long =
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val refsNode = Option(meta.get("refs"))
        .map(_.asInstanceOf[ObjectNode])
        .getOrElse(throw new IllegalArgumentException(
          s"no refs on $tablePath"))
      require(refsNode.has(name), s"no ref '$name' on $tablePath")
      refsNode.remove(name)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, metaVersion + 1)
    }

  /** The table's refs: name → (snapshot id, type). */
  def refs(spark: SparkSession, tablePath: String): Map[String, (Long, String)] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("refs")).toSeq.flatMap(_.fields().asScala.map { e =>
      e.getKey -> ((e.getValue.get("snapshot-id").asLong(),
        e.getValue.get("type").asText()))
    }).toMap
  }

  /** Resolve a ref name to its pinned snapshot id ("main" = current). */
  def refSnapshotId(spark: SparkSession, tablePath: String,
                    name: String): Long = {
    if (name == "main") return snapshot(spark, tablePath).snapshotId
    refs(spark, tablePath).get(name) match {
      case Some((id, _)) => id
      case None => throw new IllegalArgumentException(
        s"no branch or tag '$name' on $tablePath " +
          s"(have: ${refs(spark, tablePath).keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Fast-forward MAIN to a branch's head — the publish step of the
    * branch-based workflow (Iceberg's `fast_forward(table, 'main',
    * branch)`): legal only while main is an ANCESTOR of the branch
    * head (walking `parent-snapshot-id` from the head reaches main's
    * current snapshot), i.e. the branch strictly extends main. A main
    * that advanced since the branch forked refuses — rebase the
    * branch first. Pure pointer move; the branch ref keeps pointing
    * at its head. */
  def publishBranch(spark: SparkSession, tablePath: String,
                    branch: String): Long =
    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val head = Option(meta.get("refs")).flatMap(r => Option(r.get(branch)))
        .map(_.get("snapshot-id").asLong())
        .getOrElse(throw new IllegalArgumentException(
          s"no branch '$branch' on $tablePath"))
      val cur = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      if (cur == head) return head // already published
      val byId: Map[Long, JsonNode] = Option(meta.get("snapshots")).toSeq
        .flatMap(_.elements().asScala)
        .map(n => n.get("snapshot-id").asLong() -> n).toMap
      // ancestry walk: head → parents must reach main's current
      var at = head
      var isAncestor = false
      var hops = 0
      while (!isAncestor && hops < byId.size + 1) {
        val parent = byId.get(at)
          .flatMap(n => Option(n.get("parent-snapshot-id")))
          .filterNot(_.isNull).map(_.asLong())
        parent match {
          case Some(p) if p == cur => isAncestor = true
          case Some(p) => at = p; hops += 1
          case None => hops = byId.size + 1 // chain ended before main
        }
      }
      if (!isAncestor) throw new CommitConflictException("ConcurrentWrite",
        s"$tablePath: main (current $cur) is not an ancestor of branch " +
          s"'$branch' (head $head) — main advanced since the fork; " +
          "rebase the branch before publishing")
      val now = System.currentTimeMillis()
      meta.put("current-snapshot-id", head)
      Option(meta.get("snapshot-log")).foreach { log =>
        val lg = log.asInstanceOf[ArrayNode].addObject()
        lg.put("snapshot-id", head)
        lg.put("timestamp-ms", now)
      }
      meta.put("last-updated-ms", now)
      (meta, head)
    }

  /** WRITE-AUDIT-PUBLISH, step 2: promote the snapshot staged under
    * `wapId` (by a [[write]] with `spark.wap.id` set on a
    * `write.wap.enabled=true` table) to the table's CURRENT state —
    * Iceberg's `cherrypick_snapshot` for the append case. Until this
    * runs, main reads never see the audit data; auditors read it by
    * snapshot id. */
  def publishWap(spark: SparkSession, tablePath: String,
                 wapId: String): Long =
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val snaps = Option(meta.get("snapshots")).toSeq
        .flatMap(_.elements().asScala).toSeq
      val staged = snaps.filter(n => Option(n.get("summary"))
        .exists(su => Option(su.get("wap.id")).exists(_.asText() == wapId)))
      require(staged.nonEmpty, s"no staged snapshot carries wap.id=$wapId")
      require(staged.size == 1,
        s"${staged.size} snapshots carry wap.id=$wapId — ids must be unique")
      val id = staged.head.get("snapshot-id").asLong()
      val cur = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      require(cur != id, s"wap.id=$wapId is already published")
      // the audit pattern publishes an append staged ON the then-
      // current state; a table that advanced since must re-stage
      val parent = Option(staged.head.get("parent-snapshot-id"))
        .filterNot(_.isNull).map(_.asLong())
      parent.filter(_ != cur).foreach { pp =>
        throw new CommitConflictException("ConcurrentWrite",
          s"$tablePath advanced (current $cur) since wap.id=$wapId was " +
            s"staged on parent $pp — re-stage the audit write")
      }
      val now = System.currentTimeMillis()
      meta.put("current-snapshot-id", id)
      Option(meta.get("snapshot-log")).foreach { log =>
        val lg = log.asInstanceOf[ArrayNode].addObject()
        lg.put("snapshot-id", id)
        lg.put("timestamp-ms", now)
      }
      meta.put("last-updated-ms", now)
      (meta, id)
    }

  /** Roll the table's CURRENT state back to an earlier snapshot —
    * Iceberg's `rollback_to_snapshot` procedure (the RESTORE twin for
    * this flavor, spec §"Snapshots"): pure metadata, ONE new
    * `v<N+1>.metadata.json` whose `current-snapshot-id` points at the
    * target. The snapshots list is untouched (the rolled-past
    * snapshots stay time-travelable until [[expireSnapshots]]), the
    * sequence counter never rewinds (future commits stay strictly
    * newer — MOR delete scoping stays sound), and the snapshot-log
    * records the pointer move at NOW, exactly like the Java
    * `SetSnapshotOperation`. The target must still be in the
    * snapshots list — an expired id refuses loudly. No data or
    * manifest I/O: rolling back a 100 TB table costs one JSON write.
    * Returns the (now-current) target snapshot id. */
  def rollbackTo(spark: SparkSession, tablePath: String,
                 snapshotId: Long): Long = {
    // already current: no empty metadata version (checked again
    // inside the CAS — a concurrent rollback to the same id is a
    // no-op, not a conflict)
    val pre = readJson(spark, latestMetadataFile(spark, tablePath))
    if (Option(pre.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).contains(snapshotId)) return snapshotId
    casCommit(spark, tablePath) { (base, metaVersion) =>
      val meta = base.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val snapIds = Option(meta.get("snapshots")).toSeq
        .flatMap(_.elements().asScala)
        .map(_.get("snapshot-id").asLong()).toSeq
      require(snapIds.contains(snapshotId),
        s"snapshot $snapshotId is not in $tablePath's snapshots list " +
          s"(have: ${snapIds.mkString(", ")}) — expired snapshots cannot " +
          "be rolled back to")
      val now = System.currentTimeMillis()
      meta.put("current-snapshot-id", snapshotId)
      Option(meta.get("snapshot-log")).foreach { log =>
        val lg = log.asInstanceOf[ArrayNode].addObject()
        lg.put("snapshot-id", snapshotId)
        lg.put("timestamp-ms", now)
      }
      meta.put("last-updated-ms", now)
      (meta, snapshotId)
    }
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` for the Iceberg flavor — one
    * metadata-version bump merging `props` into the table's
    * `properties` object (spec §"Table Metadata"). The
    * `graft.mirror-of` safety marker refuses tampering: un-marking a
    * zero-copy mirror would re-arm [[expireSnapshots]] against files
    * the mirror merely adopted. */
  def setProperties(spark: SparkSession, tablePath: String,
                    props: Map[String, String]): Long = {
    // `format-version` is TOP-LEVEL metadata, not a property — route
    // the Iceberg-conventional `SET TBLPROPERTIES ('format-version' =
    // '3')` upgrade to the real field. It lands in the SAME commit as
    // the remaining properties: a statement like SET TBLPROPERTIES
    // ('format-version'='3','k'='v') is one atomic metadata bump, so
    // a crash can never leave the table upgraded without the rest.
    val fv = props.get("format-version").map(_.trim.toInt)
    fv.foreach(to => require(to == 2 || to == 3,
      s"unsupported format-version $to (2 or 3)"))
    val rest = props - "format-version"
    if (rest.isEmpty && fv.isEmpty)
      mutateProperties(spark, tablePath, props.keys.toSeq)((_, _) => ())
    else if (rest.isEmpty)
      upgradeFormatVersion(spark, tablePath, fv.get)
    else mutateProperties(spark, tablePath, rest.keys.toSeq) { (o, meta) =>
      fv.foreach { to =>
        val cur = Option(meta.get("format-version")).map(_.asInt()).getOrElse(2)
        require(to >= cur, s"cannot downgrade format-version $cur -> $to")
        meta.put("format-version", to)
        if (to >= 3 && !meta.has("next-row-id")) meta.put("next-row-id", 0L)
      }
      rest.foreach { case (k, v) => o.put(k, v) }
    }
  }

  /** Upgrade the table's `format-version` (2 → 3): one metadata
    * commit. From then on row-level DML writes Puffin DELETION
    * VECTORS (deletion-vector-v1 blobs; v3 forbids new position
    * delete parquet). Downgrades refuse — v3 content (DVs) would be
    * unreadable to a v2 reader. */
  def upgradeFormatVersion(spark: SparkSession, tablePath: String,
                           to: Int): Long = {
    require(to == 2 || to == 3, s"unsupported format-version $to (2 or 3)")
    casCommit(spark, tablePath) { (baseMeta, _) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val cur = Option(meta.get("format-version")).map(_.asInt()).getOrElse(2)
      require(to >= cur, s"cannot downgrade format-version $cur → $to")
      meta.put("format-version", to)
      // v3 row lineage: initialize the row-id counter (pre-upgrade
      // files have no first_row_id — their _row_id reads as null)
      if (to >= 3 && !meta.has("next-row-id")) meta.put("next-row-id", 0L)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, to.toLong)
    }
  }

  private def currentMetadataVersion(spark: SparkSession,
                                     tablePath: String): Long =
    latestMetadataFile(spark, tablePath).getName
      .stripPrefix("v").stripSuffix(".metadata.json").toLong

  /** `UNSET TBLPROPERTIES` — missing keys are a no-op. */
  def unsetProperties(spark: SparkSession, tablePath: String,
                      keys: Seq[String]): Long =
    mutateProperties(spark, tablePath, keys)((o, _) => keys.foreach(o.remove))

  private def mutateProperties(spark: SparkSession, tablePath: String,
                               touched: Seq[String])
                              (mutate: (ObjectNode, ObjectNode) => Unit): Long = {
    require(touched.nonEmpty, "no properties given")
    require(!touched.contains("graft.mirror-of"),
      "graft.mirror-of is the zero-copy-mirror safety marker — it is " +
        "set by mirrorFromDelta and never edited directly")
    casCommit(spark, tablePath) { (base, metaVersion) =>
      val meta = base.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val propsNode =
        if (meta.has("properties"))
          meta.get("properties").asInstanceOf[ObjectNode]
        else meta.putObject("properties")
      mutate(propsNode, meta)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, metaVersion + 1)
    }
  }

  /** The table's current `properties` object as a Scala map. */
  def properties(spark: SparkSession, tablePath: String): Map[String, String] = {
    val meta = readJson(spark, latestMetadataFile(spark, tablePath))
    Option(meta.get("properties")).toSeq
      .flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue.asText()))
      .toMap
  }

  /** `ALTER TABLE … ADD COLUMN(S)` — real Iceberg schema evolution
    * (spec §"Schema Evolution"): appends a NEW schema with a fresh
    * schema-id and fresh field ids (allocated past `last-column-id`,
    * never reused) to the metadata `schemas` list and points
    * `current-schema-id` at it, in one metadata-version bump. NO data
    * rewrite: current reads serve the added columns as null over
    * files written before the ALTER, while time travel keeps each
    * snapshot's pinned schema. Added columns must be nullable (the
    * spec forbids required columns without defaults on existing
    * rows). */
  /** A DDL default literal (`42`, `'txt'`, `true`, `DATE
    * '2020-01-02'`, …) as the field's Iceberg JSON single-value
    * (spec §"JSON single-value serialization") — numbers as JSON
    * numbers, everything else as the unquoted text. The inverse of
    * [[defaultLiteral]]. */
  private def putDefaultValue(fo: ObjectNode, key: String,
                              dt: DataType, raw: String): Unit = {
    val s0 = raw.trim.replaceFirst("(?i)^(DATE|TIMESTAMP)\\s+", "")
    val s = if (s0.length >= 2 && s0.head == '\'' && s0.last == '\'')
      s0.substring(1, s0.length - 1).replace("''", "'") else s0
    dt match {
      case BooleanType => fo.put(key, s.toBoolean)
      case IntegerType => fo.put(key, s.toInt)
      case LongType => fo.put(key, s.toLong)
      case FloatType => fo.put(key, s.toFloat)
      case DoubleType => fo.put(key, s.toDouble)
      case _: DecimalType => fo.put(key, s)
      case StringType => fo.put(key, s)
      // temporal literals NORMALIZE to the spec's ISO single-value
      // forms (spec §"JSON single-value serialization": date
      // `YYYY-MM-DD`, timestamp `…T…` with micros, timestamptz with
      // an explicit offset) — a raw SQL literal like
      // `'2020-01-02 03:04:05'` stored verbatim would fail this
      // engine's own strict-ISO [[defaultLiteral]] parse and be
      // unreadable by other engines. Offset-less timestamptz
      // literals are taken as UTC (deterministic, not session-tz).
      case DateType =>
        fo.put(key, java.time.LocalDate.parse(s).toString)
      case TimestampNTZType =>
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        fo.put(key, ldt.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
      case TimestampType =>
        val t = s.replace(' ', 'T')
        val odt =
          try java.time.OffsetDateTime.parse(t)
          catch { case _: java.time.format.DateTimeParseException =>
            java.time.LocalDateTime.parse(t)
              .atOffset(java.time.ZoneOffset.UTC) }
        fo.put(key, odt.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")))
      case other => throw new UnsupportedOperationException(
        s"DEFAULT for type $other is not supported")
    }
    ()
  }

  def addColumns(spark: SparkSession, tablePath: String,
                 cols: Seq[StructField],
                 defaults: Map[String, String] = Map.empty): Unit = {
    require(cols.nonEmpty, "no columns to add")
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
    val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table: $tablePath"))
    // v3 COLUMN DEFAULTS: ADD COLUMN … DEFAULT <lit> records the
    // SAME value as initial-default (served for pre-evolution files)
    // and write-default (filled when a writer omits the column) —
    // the spec's ADD COLUMN semantics. Defaults are a v3 feature.
    if (defaults.nonEmpty) {
      val fv = Option(meta.get("format-version")).map(_.asInt()).getOrElse(2)
      require(fv >= 3,
        s"column defaults need format-version 3 ($tablePath is v$fv — " +
          "SET TBLPROPERTIES ('format-version'='3') first)")
      defaults.keys.foreach(n => require(cols.exists(_.name == n),
        s"DEFAULT given for unknown added column $n"))
    }
    // variant columns are v3-only (spec v3 §Semi-structured types)
    if (cols.exists(f => containsVariant(f.dataType))) {
      val fv = Option(meta.get("format-version")).map(_.asInt()).getOrElse(2)
      require(fv >= 3,
        s"VARIANT columns need format-version 3 ($tablePath is v$fv — " +
          "SET TBLPROPERTIES ('format-version'='3') first)")
    }
    val curId = if (meta.has("current-schema-id"))
      meta.get("current-schema-id").asInt() else 0
    val curSchema: JsonNode =
      if (meta.has("schemas"))
        meta.get("schemas").elements().asScala
          .find(n => n.has("schema-id") && n.get("schema-id").asInt() == curId)
          .getOrElse(throw new IllegalStateException(
            s"current-schema-id $curId not in schemas list"))
      else meta.get("schema")
    cols.foreach { f =>
      // a required column may be added WITH a default (the spec's
      // only sanctioned path — existing rows then carry the default)
      require(f.nullable || defaults.contains(f.name),
        s"added column ${f.name} must be nullable — " +
          "existing rows carry no value for it (or give a DEFAULT)")
    }
    var idCounter = Option(meta.get("last-column-id")).map(_.asInt())
      .getOrElse(throw new IllegalStateException(
        s"$tablePath metadata has no last-column-id"))
    def nextId(): Int = { idCounter += 1; idCounter }
    val newSchema = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val allIds: Seq[Int] =
      if (meta.has("schemas"))
        meta.get("schemas").elements().asScala
          .flatMap(n => Option(n.get("schema-id")).map(_.asInt())).toSeq
      else Seq(curId)
    val newSchemaId = (allIds :+ curId).max + 1
    newSchema.put("schema-id", newSchemaId)
    cols.foreach { f =>
      // NESTED adds (Iceberg's `ADD COLUMN parent.child`, spec
      // §Schema Evolution): a dotted name walks the struct chain of
      // the CLONED schema and appends the leaf inside it — with a
      // DEFAULT this is exactly the nested-initial-default shape the
      // era-aware read serves for pre-evolution files. A BACKTICKED
      // name (`a.b`) is a literal top-level column whose name contains
      // a dot — added verbatim, never misrouted as a struct path
      val parts: Seq[String] =
        if (f.name.length > 1 && f.name.startsWith("`") &&
            f.name.endsWith("`"))
          Seq(f.name.substring(1, f.name.length - 1))
        else f.name.split("\\.").toSeq
      val (target: ObjectNode, leafName: String) =
        if (parts.length == 1) (newSchema, parts.head)
        else {
          var node: ObjectNode = newSchema
          parts.init.foreach { p =>
            val fieldNode = node.withArray[ArrayNode]("fields")
              .elements().asScala
              .find(x => x.has("name") && x.get("name").asText() == p)
              .getOrElse(throw new IllegalArgumentException(
                s"ADD COLUMN ${f.name}: no field $p on $tablePath"))
            val tNode = fieldNode.get("type")
            require(tNode != null && tNode.isObject && tNode.has("fields"),
              s"ADD COLUMN ${f.name}: $p is not a struct")
            node = tNode.asInstanceOf[ObjectNode]
          }
          (node, parts.last)
        }
      val fieldsArr = target.withArray[ArrayNode]("fields")
      val siblings = fieldsArr.elements().asScala
        .map(_.get("name").asText()).toSet
      require(!siblings.contains(leafName),
        s"column ${f.name} already exists on $tablePath")
      val fo = fieldsArr.addObject()
      fo.put("id", nextId())
      fo.put("name", leafName)
      fo.put("required", defaults.contains(f.name) && !f.nullable)
      fo.set[JsonNode]("type", sparkTypeToIceberg(f.dataType, () => nextId()))
      defaults.get(f.name).foreach { raw =>
        putDefaultValue(fo, "initial-default", f.dataType, raw)
        putDefaultValue(fo, "write-default", f.dataType, raw)
      }
    }
    val schemasArr: ArrayNode =
      if (meta.has("schemas")) meta.withArray[ArrayNode]("schemas")
      else {
        // v1 single-schema layout: lift the current schema into a
        // schemas list (tagged with the id it's been serving as)
        val arr = meta.putArray("schemas")
        val lifted = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        lifted.put("schema-id", curId)
        arr.add(lifted)
        arr
      }
    schemasArr.add(newSchema)
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-column-id", idCounter)
    meta.put("last-updated-ms", System.currentTimeMillis())
    (meta, metaVersion + 1)
    }
    ()
  }

  /** `ALTER TABLE … ALTER COLUMN <name> TYPE <t>` — Iceberg TYPE
    * PROMOTION (spec §Schema Evolution, "Valid type promotions"):
    * `int → long`, `float → double`, and `decimal(P,S) → decimal(P',S)`
    * with P' ≥ P are the spec's legal primitive widenings — one
    * metadata commit appends a new schema that keeps EVERY field id
    * and widens one type, then repoints `current-schema-id`. NO data
    * rewrite: current reads serve old files through parquet type
    * widening (INT32 pages decode as long, FLOAT as double — the
    * Spark 4 vectorized-reader upcast), while time travel keeps each
    * snapshot's pinned schema, so a pre-ALTER snapshot still reads
    * the narrow type. A table widened by an EXTERNAL engine reads the
    * same way (the read path resolves types from the current schema,
    * not the files). Anything not on the spec's promotion list —
    * narrowing, scale changes, cross-family casts — refuses loudly. */
  def updateColumnType(spark: SparkSession, tablePath: String,
                       name: String, newType: DataType): Unit = {
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
      val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
        s"not an Iceberg table: $tablePath"))
      val curId = if (meta.has("current-schema-id"))
        meta.get("current-schema-id").asInt() else 0
      val curSchema: JsonNode =
        if (meta.has("schemas"))
          meta.get("schemas").elements().asScala
            .find(n => n.has("schema-id") && n.get("schema-id").asInt() == curId)
            .getOrElse(throw new IllegalStateException(
              s"current-schema-id $curId not in schemas list"))
        else meta.get("schema")
      val fields = Option(curSchema.get("fields")).toSeq
        .flatMap(_.elements().asScala.toSeq)
      val target = fields.find(_.get("name").asText() == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column $name on $tablePath"))
      require(target.get("type").isTextual,
        s"column $name is not a primitive type — the spec promotes " +
          "primitives only")
      val oldStr = target.get("type").asText()
      val newStr = newType match {
        case LongType => "long"
        case DoubleType => "double"
        case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
        case other => throw new IllegalArgumentException(
          s"$other is not a legal Iceberg promotion target " +
            "(long / double / decimal(P', S) only)")
      }
      val legal = (oldStr, newStr) match {
        case ("int", "long") => true
        case ("float", "double") => true
        case (DecimalRe(p1, s1), DecimalRe(p2, s2)) =>
          s1.toInt == s2.toInt && p2.toInt >= p1.toInt
        case _ => false
      }
      require(legal,
        s"illegal type change $name: $oldStr → $newStr — the spec " +
          "allows int→long, float→double, decimal(P,S)→decimal(P'≥P,S)")
      if (oldStr == newStr) return // no-op: abort commit-free
      val newSchema = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
      newSchema.get("fields").elements().asScala.foreach { f =>
        if (f.get("name").asText() == name)
          f.asInstanceOf[ObjectNode].put("type", newStr)
      }
      val allIds: Seq[Int] =
        if (meta.has("schemas"))
          meta.get("schemas").elements().asScala
            .flatMap(n => Option(n.get("schema-id")).map(_.asInt())).toSeq
        else Seq(curId)
      val newSchemaId = (allIds :+ curId).max + 1
      newSchema.put("schema-id", newSchemaId)
      val schemasArr: ArrayNode =
        if (meta.has("schemas")) meta.withArray[ArrayNode]("schemas")
        else {
          val arr = meta.putArray("schemas")
          val lifted = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
          lifted.put("schema-id", curId)
          arr.add(lifted)
          arr
        }
      schemasArr.add(newSchema)
      meta.put("current-schema-id", newSchemaId)
      meta.put("last-updated-ms", System.currentTimeMillis())
      (meta, metaVersion + 1)
    }
    ()
  }

  /** True when a NAME-BASED scan of `snap`'s files would serve wrong
    * columns: some live file's schema era renamed a shared field id,
    * or carries a current name under a different id (drop + re-add).
    * The DSv2 scan gates on this and points at [[read]]. */
  private[sources] def eraMismatch(spark: SparkSession, snap: Snapshot): Boolean = {
    val byName = snap.fieldNames.map(_.swap)
    val current = snap.schema.fields.toSeq
      .map(f => (f.name, byName.getOrElse(f.name, -1)))
    val nestedInit = snap.nestedDefaults.filter(_.init.nonEmpty)
    lazy val (eras, snapToSchema, idsByEra, nestedByEra, _) =
      schemaEras(spark, snap.tablePath)
    def unsafe(m: Map[Int, String]): Boolean =
      current.exists { case (n, id) => m.get(id) match {
        case Some(e) => e != n
        case None => m.valuesIterator.contains(n)
      } }
    // a nested initial-default some era lacks ⇒ files of that era
    // need a fill the name-based DSv2 scan cannot do — gate to [[read]]
    def lacksNested(sid: Int): Boolean = nestedInit.nonEmpty &&
      idsByEra.get(sid).exists(s => nestedInit.exists(nd => !s(nd.ids.last)))
    // nested rename / drop-re-add drift: gate (the reader refuses)
    lazy val curNested = nestedByEra.getOrElse(snap.schemaId, Map.empty)
    def nestedDrift(sid: Int): Boolean = {
      if (sid == snap.schemaId) return false
      val en = nestedByEra.getOrElse(sid, Map.empty)
      en.exists { case (id, loc) => curNested.get(id).exists(_ != loc) } ||
        curNested.exists { case (id, loc) => !en.contains(id) &&
          en.exists { case (id2, l2) => id2 != id && l2 == loc } }
    }
    lazy val unsafeEraExists = eras.values.exists(unsafe) ||
      nestedInit.exists(nd => idsByEra.values.exists(s => !s(nd.ids.last))) ||
      nestedByEra.keys.exists(nestedDrift)
    // HIVE-ADOPTED files serve identity-partition columns from the
    // directory layout — only the resolving reader knows to; the
    // name-based DSv2 scan would read NULL, so gate it there. The
    // test is precise: the file's era lacks a column that IS an
    // identity partition source whose value the file's tuple carries
    // (plain ADD COLUMN evolution on a partitioned table never
    // matches — the new column is not a partition source).
    val hiveSpecNames: Set[String] = snap.specFields
      .filter(_.isIdentity).map(_.name).toSet
    val hiveByName: Map[String, String] = snap.specFields
      .filter(_.isIdentity).map(pf => pf.source -> pf.name).toMap
    def hiveAdopted(f: DataFile, m: Map[Int, String]): Boolean =
      current.exists { case (n, id) =>
        id > 0 && !m.contains(id) &&
          hiveByName.get(n).exists(f.partitionTuple.contains) }
    snap.files.exists { f =>
      val sid =
        if (f.addedSnapshotId < 0) None
        else snapToSchema.get(f.addedSnapshotId)
      sid.flatMap(eras.get) match {
        case Some(m) => unsafe(m) || sid.exists(lacksNested) ||
          sid.exists(nestedDrift) || hiveAdopted(f, m)
        // unresolvable era on a renamed/re-added table: ambiguous —
        // the scan must gate (the resolving reader then refuses too).
        // Conservatively gate era-less files carrying identity
        // tuples too (possible hive adoption with a pruned era).
        case None => unsafeEraExists ||
          (hiveSpecNames.nonEmpty &&
            f.partitionTuple.keySet.exists(hiveSpecNames))
      }
    }
  }

  /** `ALTER TABLE … ADD PARTITION FIELD <transform>` — partition-spec
    * EVOLUTION per the spec's "Partition Evolution" rules: commit one
    * new metadata.json whose `partition-specs` list gains (or reuses)
    * a spec holding the current default's fields PLUS the new one,
    * with `default-spec-id` pointing at it. PURE METADATA — existing
    * data files keep their original spec-id (spec-id-scoped pruning
    * reads mixed-spec tables soundly; OPTIMIZE migrates them); only
    * writes after the ALTER stage under the new layout. Field ids
    * stay stable across specs; the new field takes
    * `last-partition-id + 1`. Returns the new default spec-id. */
  def addPartitionField(spark: SparkSession, tablePath: String,
                        transform: String): Int = {
    val pf = IcebergPartitioning.parse(transform)
    alterPartitionSpec(spark, tablePath, add = Some(pf), drop = None)
  }

  /** `ALTER TABLE … DROP PARTITION FIELD <nameOrTransform>` — the
    * evolution twin: the new default spec drops the named field
    * (matched by field name or canonical transform string). Existing
    * files stay under their old spec; new writes stop deriving the
    * dropped dimension. Returns the new default spec-id. */
  def dropPartitionField(spark: SparkSession, tablePath: String,
                         nameOrTransform: String): Int =
    alterPartitionSpec(spark, tablePath, add = None,
      drop = Some(nameOrTransform.trim))

  /** `ALTER TABLE … REPLACE PARTITION FIELD <old> WITH <transform>` —
    * drop + add in ONE metadata commit (the bucket(8)→bucket(16)
    * resize shape). */
  def replacePartitionField(spark: SparkSession, tablePath: String,
                            nameOrTransform: String,
                            transform: String): Int =
    alterPartitionSpec(spark, tablePath,
      add = Some(IcebergPartitioning.parse(transform)),
      drop = Some(nameOrTransform.trim))

  private def alterPartitionSpec(spark: SparkSession, tablePath: String,
                                 add: Option[IcebergPartitioning.PartField],
                                 drop: Option[String]): Int = {
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
    val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table: $tablePath"))
    val snap = snapshot(spark, tablePath)
    val defaultSpecId =
      Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)

    // current default spec's field NODES (ids preserved verbatim);
    // legacy top-level `partition-spec` arrays materialize as spec 0
    val specsArr: ArrayNode =
      if (meta.has("partition-specs"))
        meta.get("partition-specs").asInstanceOf[ArrayNode]
      else {
        val arr = meta.putArray("partition-specs")
        val s0 = arr.addObject()
        s0.put("spec-id", 0)
        s0.set[JsonNode]("fields",
          Option(meta.get("partition-spec"))
            .map(_.deepCopy[JsonNode]())
            .getOrElse(M.createArrayNode()))
        arr
      }
    val specs = specsArr.elements().asScala.toSeq
    val curFields: Seq[JsonNode] = specs
      .find(_.get("spec-id").asInt() == defaultSpecId).toSeq
      .flatMap(s => Option(s.get("fields")).toSeq
        .flatMap(_.elements().asScala.toSeq))

    val allFieldIds = specs.flatMap(s => Option(s.get("fields")).toSeq
      .flatMap(_.elements().asScala))
      .flatMap(f => Option(f.get("field-id")).map(_.asInt()))
    val lastPartitionId = (Option(meta.get("last-partition-id"))
      .map(_.asInt()).toSeq ++ allFieldIds :+ 999).max

    require(add.isDefined || drop.isDefined, "nothing to alter")
    // drop first, then add — REPLACE composes both in ONE commit
    var newFields: Seq[JsonNode] = curFields
    drop.foreach { what =>
      val byName = snap.fieldNames
      def canonicalOf(f: JsonNode): String =
        IcebergPartitioning.fromJson(f.get("name").asText(),
          f.get("transform").asText(),
          byName.getOrElse(f.get("source-id").asInt(), "?")).canonical
      val (hit, kept) = newFields.partition(f =>
        f.get("name").asText() == what ||
          canonicalOf(f).replaceAll("\\s+", "")
            .equalsIgnoreCase(what.replaceAll("\\s+", "")))
      require(hit.nonEmpty,
        s"no partition field '$what' on $tablePath (have: " +
          s"${newFields.map(f => f.get("name").asText()).mkString(", ")})")
      newFields = kept
    }
    add.foreach { pf =>
      require(IcebergPartitioning.isKnown(pf),
        s"unknown partition transform ${pf.canonical}")
      val srcField = snap.schema.fields.find(_.name == pf.source)
        .getOrElse(throw new IllegalArgumentException(
          s"unknown partition source column ${pf.source} on $tablePath"))
      IcebergPartitioning.requireSupported(pf, srcField.dataType)
      val srcId = snap.fieldNames.map(_.swap).apply(pf.source)
      newFields.foreach { f =>
        require(f.get("name").asText() != pf.name,
          s"partition field ${pf.name} already exists on $tablePath")
        require(!(f.get("source-id").asInt() == srcId &&
          f.get("transform").asText() == pf.transform),
          s"partition field ${pf.canonical} already exists on $tablePath")
      }
      val nf = M.createObjectNode()
      nf.put("name", pf.name)
      nf.put("transform", pf.transform)
      nf.put("source-id", srcId)
      nf.put("field-id", lastPartitionId + 1)
      newFields = newFields :+ (nf: JsonNode)
    }

    // reuse a spec whose fields match exactly (ids included); else
    // append a fresh spec-id
    def shapeOf(fs: Seq[JsonNode]) = fs.map(f =>
      (f.get("name").asText(), f.get("transform").asText(),
        f.get("source-id").asInt(),
        Option(f.get("field-id")).map(_.asInt()).getOrElse(-1)))
    val reuse = specs.find(s => shapeOf(Option(s.get("fields")).toSeq
      .flatMap(_.elements().asScala.toSeq)) == shapeOf(newFields))
    val newSpecId = reuse.map(_.get("spec-id").asInt()).getOrElse {
      val fresh = specs.map(_.get("spec-id").asInt()).foldLeft(-1)(math.max) + 1
      val sp = specsArr.addObject()
      sp.put("spec-id", fresh)
      val fl = sp.putArray("fields")
      newFields.foreach(fl.add)
      fresh
    }
    require(newSpecId != defaultSpecId,
      s"ALTER PARTITION FIELD is a no-op on $tablePath")
    meta.put("default-spec-id", newSpecId)
    meta.put("last-partition-id",
      math.max(lastPartitionId, add.map(_ => lastPartitionId + 1).getOrElse(0)))
    meta.put("last-updated-ms", System.currentTimeMillis())
    (meta, newSpecId.toLong)
    }.toInt
  }

  /** `ALTER TABLE … RENAME COLUMN` — Iceberg's field-id model makes
    * this a METADATA-ONLY one-liner (spec §"Schema Evolution"): a new
    * schema keeps every field id and changes one name; no data file
    * rewrites. Current reads serve the new name over old files by
    * field-id-through-history resolution ([[rawFrame]]); time travel
    * keeps each snapshot's pinned names. Top-level columns only;
    * partition-spec SOURCE columns refuse (manifests key tuples by
    * the derived field names). */
  def renameColumn(spark: SparkSession, tablePath: String,
                   from: String, to: String): Unit =
    alterTopLevelColumn(spark, tablePath, from, Some(to))

  /** `ALTER TABLE … DROP COLUMN` — metadata-only: a new schema
    * without the field (its id is never reused — `last-column-id`
    * only grows, so a later re-ADD of the same name gets a fresh id
    * and old values never resurrect). */
  def dropColumn(spark: SparkSession, tablePath: String,
                 name: String): Unit =
    alterTopLevelColumn(spark, tablePath, name, None)

  private def alterTopLevelColumn(spark: SparkSession, tablePath: String,
                                  name: String,
                                  renameTo: Option[String]): Unit = {
    casCommit(spark, tablePath) { (baseMeta, metaVersion) =>
    val meta = baseMeta.getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table: $tablePath"))
    val curId = if (meta.has("current-schema-id"))
      meta.get("current-schema-id").asInt() else 0
    val curSchema: JsonNode =
      if (meta.has("schemas"))
        meta.get("schemas").elements().asScala
          .find(n => n.has("schema-id") && n.get("schema-id").asInt() == curId)
          .getOrElse(throw new IllegalStateException(
            s"current-schema-id $curId not in schemas list"))
      else meta.get("schema")
    val fields = Option(curSchema.get("fields")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    val target = fields.find(_.get("name").asText() == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no top-level column $name on $tablePath"))
    renameTo.foreach { to =>
      require(!fields.exists(_.get("name").asText() == to),
        s"column $to already exists on $tablePath")
    }
    if (renameTo.isEmpty)
      require(fields.size > 1, s"cannot drop the last column of $tablePath")
    // a partition spec SOURCE must keep its name: manifests and the
    // staging layout key on the derived field names
    val fieldId = target.get("id").asInt()
    val specSrcIds: Set[Int] = Option(meta.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(s => Option(s.get("fields")).toSeq
        .flatMap(_.elements().asScala))
      .map(_.get("source-id").asInt()).toSet
    require(!specSrcIds.contains(fieldId),
      s"column $name is a partition-spec source on $tablePath — " +
        "repartition via write(overwrite = true) first")
    // live EQUALITY-delete files match on this field's physical
    // parquet column — renaming/dropping it would break (or crash)
    // every merge-on-read read until the deletes are compacted away
    val eqIds: Set[Int] = snapshot(spark, tablePath).deletes
      .filter(_.content == 2).flatMap(_.equalityIds).toSet
    require(!eqIds.contains(fieldId),
      s"column $name is referenced by live equality-delete files on " +
        s"$tablePath — OPTIMIZE first (compaction folds the deletes away)")
    val newSchema = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val rebuilt = M.createArrayNode()
    newSchema.get("fields").elements().asScala.foreach { f =>
      if (f.get("id").asInt() != fieldId) rebuilt.add(f)
      else renameTo.foreach { to =>
        val fo = f.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        fo.put("name", to)
        rebuilt.add(fo)
      }
    }
    newSchema.set[JsonNode]("fields", rebuilt)
    val allIds: Seq[Int] =
      if (meta.has("schemas"))
        meta.get("schemas").elements().asScala
          .flatMap(n => Option(n.get("schema-id")).map(_.asInt())).toSeq
      else Seq(curId)
    val newSchemaId = (allIds :+ curId).max + 1
    newSchema.put("schema-id", newSchemaId)
    val schemasArr: ArrayNode =
      if (meta.has("schemas")) meta.withArray[ArrayNode]("schemas")
      else {
        val arr = meta.putArray("schemas")
        val lifted = curSchema.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        lifted.put("schema-id", curId)
        arr.add(lifted)
        arr
      }
    schemasArr.add(newSchema)
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-updated-ms", System.currentTimeMillis())
    (meta, metaVersion + 1)
    }
    ()
  }

  /** ZERO-COPY format mirror — publish the CURRENT snapshot of a real
    * Delta table as an Iceberg table WITHOUT touching a data file
    * (the migrate-without-rewrite shape: Iceberg's `migrate`/
    * `snapshot` procedures, Delta's "UniForm" idea, built from the
    * two public specs). Every live Delta add-file is ADOPTED by
    * absolute `file_path` into a fresh stats-bearing Iceberg manifest
    * (record counts from the Delta per-file stats JSON, footer read
    * only as fallback; column bounds from the footers — metadata I/O,
    * no data scan), behind one `overwrite` snapshot in
    * `<icebergPath>/metadata`. Defaults to IN-PLACE dual-format
    * (icebergPath = deltaPath): Delta stays the writer of record and
    * the catalog flavor; Iceberg readers see the same rows. Re-mirror
    * after new Delta commits to advance the Iceberg view (old mirror
    * snapshots stay time-travelable). The mirror is marked
    * `graft.mirror-of` in table properties and [[expireSnapshots]]
    * REFUSES on it — physical cleanup must happen through the owning
    * Delta log, never through a view that merely adopted the files.
    * DV-bearing, column-mapped, and partitioned sources refuse loudly
    * (hive-layout files do not carry the partition columns an
    * identity spec promises; DV semantics would silently resurrect). */
  def mirrorFromDelta(spark: SparkSession, deltaPath: String,
                      icebergPathOpt: Option[String] = None): Long = {
    val icebergPath = icebergPathOpt.getOrElse(deltaPath)
    val fsConf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(icebergPath)
    val fs = dst.getFileSystem(fsConf)
    val dsnap = DeltaLog.snapshot(spark, deltaPath)
    require(dsnap.partitionColumns.isEmpty,
      s"mirrorFromDelta on PARTITIONED $deltaPath — hive-layout data " +
        "files do not carry the partition columns an Iceberg identity " +
        "spec promises; rewrite unpartitioned first")
    require(dsnap.files.forall(_.dv.forall(_.cardinality == 0L)),
      s"$deltaPath carries deletion vectors — an Iceberg reader of the " +
        "raw files would resurrect deleted rows; OPTIMIZE first " +
        "(compaction applies the vectors)")
    require(!dsnap.configuration.get("delta.columnMapping.mode")
      .exists(_ != "none"),
      s"$deltaPath uses column mapping — physical parquet names do not " +
        "match the logical schema")

    val mdir = metaDir(icebergPath)
    fs.mkdirs(mdir)
    casCommit(spark, icebergPath) { (prior, metaVersion) =>
    // never stamp mirror commits onto a REAL Iceberg table: a
    // re-mirror must only ever advance a table this function created
    // (the same guard mirrorFromIceberg has in the other direction)
    prior.foreach { m =>
      val marked = Option(m.get("properties"))
        .exists(p => p.has("graft.mirror-of"))
      require(marked,
        s"$icebergPath holds a real Iceberg table, not a mirror — " +
          "refusing to overwrite its snapshots with adopted Delta files")
    }
    val ns = nextSnapshot(prior)

    val (schemaObj, schemasOut, lastColumnId) =
      registerSchema(prior, dsnap.schema)

    // adopt the live Delta files: record counts from the stats JSON
    // the Delta writer recorded, footer read only as fallback
    def numRecordsOf(st: Option[String]): Option[Long] = st.flatMap { j =>
      scala.util.Try(M.readTree(j)).toOption
        .flatMap(n => Option(n.get("numRecords")).map(_.asLong()))
    }
    val files: Seq[(String, Long, Long)] = dsnap.files.map { f =>
      val p = fs.makeQualified(new Path(f.path))
      val nrec = numRecordsOf(f.stats).getOrElse(
        FooterIo.withFooter(fsConf, p)(_.getRecordCount))
      (p.toString, f.size, nrec)
    }
    // INCREMENTAL stats: files already in the prior mirror snapshot
    // reuse their manifest-recorded column stats — only genuinely new
    // files open parquet footers. Without this every UniForm commit
    // re-read O(live files) footers (the r11→r12 per-commit cost).
    val priorFiles: Map[String, DataFile] =
      if (prior.isEmpty) Map.empty
      else scala.util.Try(snapshot(spark, icebergPath)).toOption
        .map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
    val fileStats: Map[String, FileStats] = files.map { case (p, _, n) =>
      p -> priorFiles.get(p)
        .filter(pf => pf.valueCounts.nonEmpty || pf.bounds.nonEmpty)
        .map(pf => FileStats(pf.valueCounts, pf.nullCounts, pf.bounds))
        .getOrElse(footerFileStats(fsConf, new Path(p), n))
    }.toMap
    val newManifest = writeManifest(spark, mdir, s"mirror-${ns.tok}-${ns.id}",
      M.writeValueAsString(schemaObj), files, ns.id, ns.seq,
      stats = fileStats, fieldInfo = fieldInfoOf(schemaObj, dsnap.schema))

    val root = M.createObjectNode()
    root.put("format-version", prior.flatMap(m =>
      Option(m.get("format-version"))).map(_.asInt()).getOrElse(2))
    root.put("table-uuid", prior.flatMap(m => Option(m.get("table-uuid")))
      .map(_.asText()).getOrElse(java.util.UUID.nameUUIDFromBytes(
        ("iceberg-mirror:" + icebergPath).getBytes("UTF-8")).toString))
    root.put("location", fs.makeQualified(dst).toString)
    root.put("last-column-id", lastColumnId)
    root.put("current-schema-id", schemaObj.get("schema-id").asInt())
    val schemasArr = root.putArray("schemas")
    schemasOut.foreach(schemasArr.add)
    val specsArr = root.putArray("partition-specs")
    val priorSpecs: Seq[JsonNode] = prior.toSeq.flatMap(m =>
      Option(m.get("partition-specs")).toSeq.flatMap(_.elements().asScala))
    if (priorSpecs.nonEmpty) priorSpecs.foreach(specsArr.add)
    else {
      val sp = specsArr.addObject()
      sp.put("spec-id", 0)
      sp.putArray("fields")
    }
    root.put("default-spec-id",
      prior.flatMap(m => Option(m.get("default-spec-id")))
        .map(_.asInt()).getOrElse(0))
    root.put("last-partition-id", 999)
    root.put("default-sort-order-id", 0)
    root.putArray("sort-orders").addObject().put("order-id", 0)
      .putArray("fields")
    // carry user-set properties across re-mirrors; the marker always
    // re-asserts itself last
    val props = root.putObject("properties")
    prior.flatMap(m => Option(m.get("properties"))).foreach(
      _.fields().asScala.foreach(e =>
        props.put(e.getKey, e.getValue.asText())))
    props.put("graft.mirror-of", deltaPath)
    root.putArray("metadata-log")
    // a mirror advance carries the row-id counter, never resets it
    putSnapshot(spark, icebergPath, root, prior, ns, Seq(newManifest),
      Seq("operation" -> "overwrite"), claimed = None)
    (root, ns.id)
    }
  }

  /** Serialize `schema.name-mapping.default` (spec §Name Mapping
    * Serialization) from an Iceberg schema JSON node: one entry per
    * field — `{"field-id": I, "names": [name]}` — with nested struct
    * fields under `"fields"` and list/map components as
    * element/key/value entries. */
  private def nameMappingJson(schemaObj: JsonNode): String = {
    def entriesOf(t: JsonNode): Option[ArrayNode] = {
      if (t == null || !t.isObject) return None
      if (t.has("fields")) {
        val arr = M.createArrayNode()
        t.get("fields").elements().asScala.foreach { f =>
          val e = arr.addObject()
          e.put("field-id", f.get("id").asInt())
          e.putArray("names").add(f.get("name").asText())
          entriesOf(nodeType(f)).foreach(e.set[JsonNode]("fields", _))
        }
        Some(arr)
      } else Option(t.get("type")).filter(_.isTextual)
        .map(_.asText()) match {
        case Some("list") =>
          val arr = M.createArrayNode()
          val e = arr.addObject()
          e.put("field-id", t.get("element-id").asInt())
          e.putArray("names").add("element")
          entriesOf(nodeType2(t, "element"))
            .foreach(e.set[JsonNode]("fields", _))
          Some(arr)
        case Some("map") =>
          val arr = M.createArrayNode()
          val k = arr.addObject()
          k.put("field-id", t.get("key-id").asInt())
          k.putArray("names").add("key")
          val v = arr.addObject()
          v.put("field-id", t.get("value-id").asInt())
          v.putArray("names").add("value")
          entriesOf(nodeType2(t, "value"))
            .foreach(v.set[JsonNode]("fields", _))
          Some(arr)
        case _ => None
      }
    }
    M.writeValueAsString(entriesOf(schemaObj).getOrElse(M.createArrayNode()))
  }

  /** In-place ADOPTION of a plain parquet directory as an Iceberg
    * table — the `CONVERT TO ICEBERG` / `migrate` shape, the Iceberg
    * twin of [[DeltaLog.convertFrom]]: snapshot 1 adopts every live
    * parquet file by ABSOLUTE path (no data rewrite), the schema
    * comes from Spark's parquet inference with fresh field ids, and
    * the metadata records `schema.name-mapping.default` (spec §Name
    * Mapping Serialization) pinning each field id's physical name —
    * so the adopted FIELD-ID-LESS files stay resolvable after schema
    * evolution: a post-adoption RENAME keeps serving pre-adoption
    * files through the mapping (graft's reader uses it as the
    * era-resolution fallback; real engines resolve ids through it
    * directly). HIVE LAYOUTS adopt too: `k=v` directory components
    * become IDENTITY partition columns — the FILE era (schema 0)
    * carries only the data columns, the current schema appends the
    * partition columns, per-file partition tuples land in the
    * manifest (so identity partition PRUNING works from day one),
    * and the resolving reader serves the values from the directory
    * layout via a `basePath` scan (the column never lived in the
    * files). After adoption this is a REAL Iceberg table: appends,
    * DML, OPTIMIZE, schema evolution all work. */
  def convertFrom(spark: SparkSession, path: String): Long = {
    val fsConf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val fs = dst.getFileSystem(fsConf)
    require(fs.exists(dst), s"no directory at $path")
    val mdir = metaDir(path)
    require(!fs.exists(mdir) || fs.listStatus(mdir).isEmpty,
      s"$path already holds Iceberg metadata — it IS an Iceberg table")
    require(!fs.exists(new Path(dst, "_delta_log")),
      s"$path holds a _delta_log — mirror the Delta table instead " +
        "(mirrorFromIceberg/UniForm direction, or CONVERT TO DELTA " +
        "came first)")
    def walk(p: Path, parts: Seq[(String, String)])
    : Seq[(Path, Seq[(String, String)])] =
      fs.listStatus(p).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap { st =>
          if (st.isDirectory) {
            val nm = st.getPath.getName
            if (nm.contains("=")) {
              val Array(k, v) = nm.split("=", 2)
              walk(st.getPath,
                parts :+ (k -> java.net.URLDecoder.decode(v, "UTF-8")))
            } else walk(st.getPath, parts)
          }
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq(st.getPath -> parts)
          else Seq.empty
        }
    val filesWithParts = walk(dst, Nil)
    val dataFiles = filesWithParts.map(_._1)
    require(dataFiles.nonEmpty, s"no parquet files under $path")
    // HIVE LAYOUT: `k=v` directory components become IDENTITY
    // partition columns — values live in the PATHS, not the files
    // (the `migrate`/`add_files` shape). Every file must agree on
    // the partition key sequence.
    val partKeys: Seq[String] = filesWithParts.head._2.map(_._1)
    require(filesWithParts.forall(_._2.map(_._1) == partKeys),
      s"inconsistent hive partition layout under $path: " +
        s"expected keys ${partKeys.mkString("/")}")
    def rawOf(v: String): Option[String] =
      if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)
    val partTypes: Seq[(String, DataType)] = partKeys.zipWithIndex
      .map { case (k, i) =>
        val vals = filesWithParts.flatMap(f => rawOf(f._2(i)._2))
        val dt: DataType =
          if (vals.nonEmpty && vals.forall(_.toLongOption.isDefined))
            LongType
          else if (vals.nonEmpty && vals.forall(_.toDoubleOption.isDefined))
            DoubleType
          else StringType
        k -> dt
      }
    // recursiveFileLookup suppresses Spark's own partition discovery
    // — the DATA schema is exactly what the files carry
    val dataSchema = spark.read.option("recursiveFileLookup", "true")
      .parquet(path).schema
    partKeys.foreach(k => require(!dataSchema.fieldNames.contains(k),
      s"hive partition column $k also lives inside the data files " +
        s"under $path — ambiguous; rewrite one side first"))
    val schema = StructType(dataSchema.fields ++
      partTypes.map { case (k, dt) => StructField(k, dt, nullable = true) })
    casCommit(spark, path) { (prior, _) =>
      require(prior.isEmpty,
        s"$path already holds Iceberg metadata — it IS an Iceberg table")
      var idCounter = 0
      val nextId = () => { idCounter += 1; idCounter }
      val schemaObj = sparkTypeToIceberg(schema, nextId)
        .asInstanceOf[ObjectNode]
      schemaObj.put("schema-id", 0)
      val fieldInfo = fieldInfoOf(schemaObj, schema)
      // HIVE layout: the FILE era (schema 0) holds only the DATA
      // columns — the era machinery then knows the partition columns
      // never lived in the files and serves them from the directory
      // layout; the CURRENT schema (1) appends them as identity
      // partition sources
      val hive = partKeys.nonEmpty
      val dataOnlyObj =
        if (!hive) schemaObj
        else {
          val o = schemaObj.deepCopy[ObjectNode]()
          val keep = M.createArrayNode()
          o.get("fields").elements().asScala
            .filterNot(f => partKeys.contains(f.get("name").asText()))
            .foreach(keep.add)
          o.set[JsonNode]("fields", keep)
          o
        }
      if (hive) schemaObj.put("schema-id", 1)
      val fileSchemaJson = M.writeValueAsString(dataOnlyObj)
      val specFields: Seq[SpecField] = partTypes.zipWithIndex.map {
        case ((k, dt), i) =>
          SpecField(k, dt, fieldInfo(k)._1, "identity", 1000 + i)
      }
      val ns = nextSnapshot(None)
      val cs = footerCountsAndStats(spark,
        dataFiles.map(p => fs.makeQualified(p).toString))
      val triples: Seq[(String, Long, Long)] = dataFiles.map(p =>
        (fs.makeQualified(p).toString, fs.getFileStatus(p).getLen,
          cs(fs.makeQualified(p).toString)._1))
      val tuples: Map[String, Seq[Any]] = filesWithParts.map {
        case (p, parts) =>
          fs.makeQualified(p).toString -> parts.zip(partTypes).map {
            case ((_, v), (_, dt)) => rawOf(v) match {
              case None => null
              case Some(raw) => dt match {
                case LongType => Long.box(raw.toLong)
                case DoubleType => Double.box(raw.toDouble)
                case _ => raw
              }
            }
          }
      }.toMap
      val stats = cs.map { case (p, (_, st)) => p -> st }
      val manifest = writeManifest(spark, mdir, s"adopt-${ns.tok}-${ns.id}",
        fileSchemaJson, triples, ns.id, ns.seq, spec = specFields,
        tuples = tuples, stats = stats, fieldInfo = fieldInfo)

      val root = M.createObjectNode()
      root.put("format-version", 2)
      root.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
        ("iceberg-convert:" + path).getBytes("UTF-8")).toString)
      root.put("location", fs.makeQualified(dst).toString)
      root.put("last-column-id", idCounter)
      root.put("current-schema-id", if (hive) 1 else 0)
      val schemasArr = root.putArray("schemas")
      if (hive) { dataOnlyObj.put("schema-id", 0); schemasArr.add(dataOnlyObj) }
      schemasArr.add(schemaObj)
      val specsArr = root.putArray("partition-specs")
      if (specFields.isEmpty) {
        val sp = specsArr.addObject()
        sp.put("spec-id", 0)
        sp.putArray("fields")
      } else specsArr.add(M.readTree(
        s"""{"spec-id":0,"fields":${specFieldsJson(specFields)}}"""))
      root.put("default-spec-id", 0)
      root.put("last-partition-id", 999 + specFields.size)
      root.put("default-sort-order-id", 0)
      root.putArray("sort-orders").addObject().put("order-id", 0)
        .putArray("fields")
      // name mapping pins the FILE columns only — the partition
      // columns never lived in the parquet
      root.putObject("properties").put("schema.name-mapping.default",
        nameMappingJson(dataOnlyObj))
      root.putArray("metadata-log")
      // the adopted files were written under the FILE era (schema 0)
      putSnapshot(spark, path, root, None, ns, Seq(manifest),
        Seq("operation" -> "append"), claimed = None, schemaId = Some(0))
      (root, ns.id)
    }
  }

  // ---------------- Avro manifest schemas + writer ----------------

  private val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k_v_119","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
      |{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k_v_121","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
      |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k_v_126","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k_v_129","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135},
      |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
      |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}]}""".stripMargin)

  private val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def writeAvro(spark: SparkSession, p: Path, schema: Schema,
                        meta: Map[String, String],
                        records: Seq[GenericRecord]): Long = {
    val fs = fsFor(spark, p)
    val out = fs.create(p, false)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
    fs.getFileStatus(p).getLen
  }

  /** Avro primitive for an identity-partition value — the types a
    * partition tuple may carry (everything else refuses at write). */
  private[sources] def partitionAvroType(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case StringType => "string"
    case BooleanType => "boolean"
    case FloatType => "float"
    case DoubleType => "double"
    case other => throw new UnsupportedOperationException(
      s"identity partition column of type ${other.simpleString} is not " +
        "supported (int/long/string/boolean/float/double)")
  }

  /** Per-file column statistics recorded in (and decoded from)
    * manifests, keyed by COLUMN NAME: value/null counts plus numeric
    * min/max — what `lower_bounds`/`upper_bounds` skipping prunes on
    * without opening data files. Strings/nested are deliberately
    * un-statted (truncated lexicographic bounds are where engines
    * ship wrong-skip bugs); a column without bounds simply never
    * skips. */
  /** The spec's position-delete column shape (file_path: string,
    * pos: long). Passing it to spark.read skips a per-file footer
    * schema-inference job on every position-delete read (files may
    * carry an extra `row` column; subset reads are fine). */
  private val PosDeleteReadSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  final case class FileStats(valueCounts: Map[String, Long],
                             nullCounts: Map[String, Long],
                             bounds: Map[String, (BigDecimal, BigDecimal)])

  /** Iceberg single-value binary serialization for the bound types
    * this writer stats: int (iceberg int = 4-byte LE, covers
    * short/byte), long 8 LE, float 4 LE, double 8 LE. */
  private def boundBytes(dt: DataType, v: BigDecimal): Option[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | ShortType | ByteType =>
        Some(bb.putInt(v.toIntExact).array().take(4))
      case LongType => Some(bb.putLong(v.toLongExact).array())
      case FloatType => Some(bb.putFloat(v.toFloat).array().take(4))
      case DoubleType => Some(bb.putDouble(v.toDouble).array())
      case _ => None
    }
  }

  private def boundValue(dt: DataType, b: Array[Byte]): Option[BigDecimal] = {
    val bb = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | ShortType | ByteType if b.length == 4 =>
        Some(BigDecimal(bb.getInt))
      case LongType if b.length == 8 => Some(BigDecimal(bb.getLong))
      case FloatType if b.length == 4 =>
        Some(BigDecimal(bb.getFloat.toDouble))
      case DoubleType if b.length == 8 => Some(BigDecimal(bb.getDouble))
      case _ => None // foreign writer / unsupported type: never skip
    }
  }

  /** Column stats from the parquet FOOTER (no data scan; one bounded
    * driver-side footer read per adopted file) for TOP-LEVEL numeric
    * leaves — the Iceberg twin of the Delta writer's add.stats. */
  /** Row count from the parquet FOOTER (sum of row-group counts) —
    * one small ranged metadata read per file, replacing a full
    * re-scan Spark job of freshly staged data whose only purpose was
    * counting rows (the counts were in the footers all along). */
  private def footerRowCount(conf: org.apache.hadoop.conf.Configuration,
                             p: Path): Long =
    FooterIo.withFooter(conf, p)(
      _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)

  /** How many staged files the DRIVER footer-reads itself (on the
    * bounded [[FooterIo]] pool); ABOVE the gate the reads run as ONE
    * Spark job over the executors — task-collected write statistics.
    * A 100 TB append staging tens of thousands of files must not
    * serialize O(files) ranged I/O on the driver, while a 3-file
    * commit must not pay a job's scheduling latency. */
  private def driverFooterGate(spark: SparkSession): Int =
    Option(spark.conf.get("spark.sql.graft.footerStatsDriverMaxFiles", null))
      .map(_.toInt).getOrElse(64)

  /** Test hook: how many files have been footer-read ON THE DRIVER
    * (the gate's below-threshold leg). */
  private[sources] val driverFooterReads =
    new java.util.concurrent.atomic.AtomicLong

  /** Row count AND column stats for MANY staged files in ONE footer
    * open per file (each footer was previously opened twice — once
    * for the count, once for the stats). Same driver-gate /
    * executor-job split as [[footerRowCounts]]. The count is
    * REQUIRED (manifests record it; a failed footer read throws);
    * stats stay best-effort inside [[footerFileStats]]. */
  private def footerCountsAndStats(spark: SparkSession, ps: Seq[String])
  : Map[String, (Long, FileStats)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (ps.size <= driverFooterGate(spark)) {
      driverFooterReads.addAndGet(ps.size)
      FooterIo.mapAll(ps)(s => s -> footerCountAndStats(conf, s)).toMap
    } else {
      val sc = new SerializableHadoopConf(conf)
      val slices = math.max(1, math.min(ps.size,
        spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(ps, slices)
        .map(s => s -> footerCountAndStats(sc.value, s))
        .collect().toMap
    }
  }

  /** ONE footer open: the file's row count (required — throws on a
    * failed read) plus its best-effort column stats. */
  private def footerCountAndStats(
      conf: org.apache.hadoop.conf.Configuration,
      s: String): (Long, FileStats) =
    FooterIo.withFooter(conf, new Path(s)) { r =>
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val n = blocks.map(_.getRowCount).sum
      (n, statsFromBlocks(blocks, n))
    }

  private def footerFileStats(conf: org.apache.hadoop.conf.Configuration,
                              p: Path, records: Long): FileStats = try {
    FooterIo.withFooter(conf, p)(r =>
      statsFromBlocks(r.getFooter.getBlocks.asScala.toSeq, records))
  } catch { // stats are an optimization: a failed footer read stats nothing
    case scala.util.control.NonFatal(_) =>
      FileStats(Map.empty, Map.empty, Map.empty)
  }

  /** Column stats from ALREADY-read footer blocks (shared by the
    * one-open-per-file combined pass and [[footerFileStats]]). */
  private def statsFromBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      records: Long): FileStats = try {
    val good = FooterIo.columnStats(blocks)
    FileStats(
      good.map { case (n, _) => n -> records }.toMap,
      good.map { case (n, a) => n -> a.nulls }.toMap,
      good.collect { case (n, a) if a.min.isDefined && a.max.isDefined =>
        n -> ((a.min.get, a.max.get)) }.toMap)
  } catch { // stats are an optimization: failed stats stat nothing
    case scala.util.control.NonFatal(_) =>
      FileStats(Map.empty, Map.empty, Map.empty)
  }

  /** Manifest-entry schema whose r102 partition record carries the
    * spec's fields (real field ids where known — stable across spec
    * evolution — positional 1000+i for fresh specs). */
  private[sources] def entrySchemaFor(spec: Seq[SpecField]): Schema =
    if (spec.isEmpty) ManifestEntrySchema
    else {
      val fields = spec.zipWithIndex.map { case (f, i) =>
        val fid = if (f.fieldId > 0) f.fieldId else 1000 + i
        s"""{"name":"${f.name}","type":["null","${partitionAvroType(f.dt)}"],"default":null,"field-id":$fid}"""
      }.mkString(",")
      new Schema.Parser().parse(ManifestEntrySchema.toString.replace(
        """{"type":"record","name":"r102","fields":[]}""",
        s"""{"type":"record","name":"r102","fields":[$fields]}"""))
    }

  /** The spec JSON both the manifest metadata and the table
    * metadata's `partition-specs` entry carry — transform names
    * per the spec (`identity`, `day`, `bucket[16]`, …). */
  private def specFieldsJson(spec: Seq[SpecField]): String =
    spec.zipWithIndex.map { case (f, i) =>
      val fid = if (f.fieldId > 0) f.fieldId else 1000 + i
      s"""{"name":"${f.name}","transform":"${f.transform}","source-id":${f.sourceId},"field-id":$fid}"""
    }.mkString("[", ",", "]")

  /** Attach the stats maps (field-id-keyed, per the data_file schema)
    * to one manifest data_file record. */
  private def putStatsFields(d: GenericData.Record, st: FileStats,
                             fieldInfo: Map[String, (Int, DataType)]): Unit = {
    def itemSchema(field: String): Schema =
      d.getSchema.getField(field).schema().getTypes.get(1).getElementType
    def kvLong(field: String, m: Map[String, Long]): Unit = {
      val is = itemSchema(field)
      val arr = new java.util.ArrayList[GenericRecord]()
      m.toSeq.sortBy(_._1).foreach { case (n, v) =>
        fieldInfo.get(n).foreach { case (fid, _) =>
          val kv = new GenericData.Record(is)
          kv.put("key", fid); kv.put("value", v)
          arr.add(kv)
        }
      }
      if (!arr.isEmpty) d.put(field, arr)
    }
    def kvBound(field: String,
                sel: ((BigDecimal, BigDecimal)) => BigDecimal): Unit = {
      val is = itemSchema(field)
      val arr = new java.util.ArrayList[GenericRecord]()
      st.bounds.toSeq.sortBy(_._1).foreach { case (n, b) =>
        fieldInfo.get(n).foreach { case (fid, dt) =>
          boundBytes(dt, sel(b)).foreach { bytes =>
            val kv = new GenericData.Record(is)
            kv.put("key", fid)
            kv.put("value", java.nio.ByteBuffer.wrap(bytes))
            arr.add(kv)
          }
        }
      }
      if (!arr.isEmpty) d.put(field, arr)
    }
    kvLong("value_counts", st.valueCounts)
    kvLong("null_value_counts", st.nullCounts)
    kvBound("lower_bounds", _._1)
    kvBound("upper_bounds", _._2)
  }

  /** Serializable description of ONE manifest entry — everything its
    * Avro record needs, assembled from metadata the commit already
    * holds. Record construction + Avro encoding then happen wherever
    * [[writeManifestFile]] decides (driver below the entry-count gate,
    * one executor task above it) through the SAME builder — the two
    * legs are byte-identical by construction (deterministic sync
    * marker included; pinned by IcebergManifestParitySpec). */
  private[graft] final case class EntrySpec(status: Int, snapshotId: Long,
                                     seq: Long, content: Int,
                                     path: String, tuple: Seq[Any],
                                     records: Long, size: Long,
                                     firstRowId: Option[Long],
                                     stats: Option[FileStats],
                                     eqIds: Seq[Int],
                                     dvRef: Option[(String, Long, Long)],
                                     pathBounds: Option[(String, String)])

  /** One manifest entry record from its [[EntrySpec]] — the union of
    * the data / delete / existing writers' shapes (runs on either the
    * driver or an executor; must touch nothing session-bound). */
  private def buildEntryRecord(entrySchema: Schema,
                               specNames: Seq[String],
                               fieldInfo: Map[String, (Int, DataType)],
                               e: EntrySpec): GenericRecord = {
    val rec = new GenericData.Record(entrySchema)
    rec.put("status", e.status)
    rec.put("snapshot_id", e.snapshotId)
    rec.put("sequence_number", e.seq)
    rec.put("file_sequence_number", e.seq)
    val d = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    d.put("content", e.content)
    d.put("file_path", e.path)
    // v3 DELETION VECTORS: the entry points INTO a Puffin file —
    // `referenced_data_file` (143) names the ONE data file the DV
    // applies to, `content_offset`/`content_size_in_bytes` (144/145)
    // locate the deletion-vector-v1 blob
    d.put("file_format", if (e.dvRef.isDefined) "PUFFIN" else "PARQUET")
    e.dvRef.foreach { case (refPath, off, len) =>
      d.put("referenced_data_file", refPath)
      d.put("content_offset", off)
      d.put("content_size_in_bytes", len)
    }
    // v3 ROW LINEAGE (spec field 142): added rows get implicit ids
    // first_row_id + position; an existing file keeps its id range
    e.firstRowId.foreach(fr => d.put("first_row_id", fr))
    val pr = new GenericData.Record(
      d.getSchema.getField("partition").schema())
    specNames.zip(e.tuple).foreach { case (n, v) => pr.put(n, v) }
    d.put("partition", pr)
    d.put("record_count", e.records)
    d.put("file_size_in_bytes", e.size)
    if (e.eqIds.nonEmpty)
      d.put("equality_ids", e.eqIds.map(Int.box).asJava)
    e.stats.foreach(putStatsFields(d, _, fieldInfo))
    // the delete file's own file_path column bounds (spec field id
    // 2147483546) — the referenced-data-file range that lets readers
    // attach this delete file only to data files it can actually
    // name, instead of to every MOR partition
    e.pathBounds.foreach { case (lo, hi) =>
      def kv1(field: String, v: String): Unit = {
        val fieldSchema = d.getSchema.getField(field).schema()
        val itemSchema = fieldSchema.getTypes.get(1).getElementType
        val kv = new GenericData.Record(itemSchema)
        kv.put("key", 2147483546L.toInt)
        kv.put("value",
          java.nio.ByteBuffer.wrap(v.getBytes("UTF-8")))
        val arr = new GenericData.Array[GenericRecord](1,
          fieldSchema.getTypes.get(1))
        arr.add(kv)
        d.put(field, arr)
      }
      kv1("lower_bounds", lo)
      kv1("upper_bounds", hi)
    }
    rec.put("data_file", d)
    rec
  }

  /** Deterministic Avro sync marker derived from the manifest FILE
    * NAME — manifest names are attempt-token-unique, so markers stay
    * distinct across files while the driver and executor legs of
    * [[writeManifestFile]] produce byte-identical output for the same
    * manifest. */
  private def manifestSync(p: Path): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(("graft-manifest:" + p.getName).getBytes("UTF-8"))

  /** How many manifest entries the DRIVER Avro-encodes itself; ABOVE
    * the gate the records are built and the file written in ONE
    * executor task (the commit metadata — paths/sizes/stats — ships as
    * task data; the heavy O(entries) record building + encoding + FS
    * write leave the driver). A 100 TB commit staging tens of
    * thousands of files must not serialize O(files) Avro encoding on
    * the driver (the last driver-serialized O(files) write seam after
    * r15/r16's footer-stats and pos-delete gates), while a 3-file
    * commit must not pay a job's scheduling latency. Same
    * gate-then-distribute pattern as `footerStatsDriverMaxFiles`. */
  private def manifestDriverGate(spark: SparkSession): Int =
    Option(spark.conf.get("spark.sql.graft.manifestDriverMaxEntries", null))
      .map(_.toInt).getOrElse(1024)

  /** Test hook: how many manifest files have been Avro-encoded ON THE
    * DRIVER (the gate's below-threshold leg). */
  private[sources] val driverManifestWrites =
    new java.util.concurrent.atomic.AtomicLong

  /** Encode + write one manifest Avro file from entry specs — the
    * shared body of both gate legs. `overwrite` is true only on the
    * executor leg (a task retry after a mid-write failure must not
    * trip create-exclusive; manifest names are attempt-token-unique,
    * so an existing file can only be OUR failed attempt). */
  private def encodeManifest(conf: org.apache.hadoop.conf.Configuration,
                             pathStr: String, schema: Schema,
                             meta: Seq[(String, String)],
                             specNames: Seq[String],
                             fieldInfo: Map[String, (Int, DataType)],
                             entries: Seq[EntrySpec],
                             overwrite: Boolean): Long = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, overwrite)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out, manifestSync(p))
    try entries.foreach(e =>
      w.append(buildEntryRecord(schema, specNames, fieldInfo, e)))
    finally w.close()
    fs.getFileStatus(p).getLen
  }

  /** Write one manifest Avro file, gated: entry counts at or below
    * [[manifestDriverGate]] encode on the driver; above it, ONE
    * executor task builds the records and writes the file (entries
    * ship as RDD data, not a closure). Returns the file length. */
  private[graft] def writeManifestFile(spark: SparkSession, p: Path,
                                entrySchema: Schema,
                                meta: Seq[(String, String)],
                                specNames: Seq[String],
                                fieldInfo: Map[String, (Int, DataType)],
                                entries: Seq[EntrySpec]): Long = {
    if (entries.size <= manifestDriverGate(spark)) {
      driverManifestWrites.incrementAndGet()
      encodeManifest(spark.sparkContext.hadoopConfiguration, p.toString,
        entrySchema, meta, specNames, fieldInfo, entries,
        overwrite = false)
    } else {
      val sc = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val pathStr = p.toString
      // avro Schema is not Serializable — the task re-parses the JSON
      // (once per manifest, executor-side only)
      val schemaJson = entrySchema.toString
      spark.sparkContext.parallelize(entries, 1)
        .mapPartitions(it => Iterator.single(encodeManifest(sc.value,
          pathStr, new Schema.Parser().parse(schemaJson), meta,
          specNames, fieldInfo, it.toVector, overwrite = true)))
        .collect().head
    }
  }

  /** Write one manifest + its manifest-list entry for a set of data
    * files; returns the populated manifest_file record. `spec` +
    * `tuples` attach identity-partition tuples per file; `stats` +
    * `fieldInfo` the per-file column bounds/counts. */
  private def writeManifest(spark: SparkSession, mdir: Path,
                            tag: String, schemaJson: String,
                            files: Seq[(String, Long, Long)],
                            snapId: Long, seq: Long,
                            spec: Seq[SpecField] = Nil,
                            tuples: Map[String, Seq[Any]] = Map.empty,
                            specId: Int = 0,
                            stats: Map[String, FileStats] = Map.empty,
                            fieldInfo: Map[String, (Int, DataType)] = Map.empty,
                            firstRowIds: Map[String, Long] = Map.empty)
  : GenericRecord = {
    val fs = fsFor(spark, mdir)
    val entrySchema = entrySchemaFor(spec)
    val entries = files.map { case (path, size, nrec) =>
      EntrySpec(status = 1, snapshotId = snapId, seq = seq, content = 0,
        path = path,
        tuple = tuples.getOrElse(path, Seq.fill(spec.size)(null)),
        records = nrec, size = size,
        firstRowId = firstRowIds.get(path), stats = stats.get(path),
        eqIds = Nil, dvRef = None, pathBounds = None)
    }
    val manifestPath = fs.makeQualified(new Path(mdir, s"manifest-$tag.avro"))
    val len = writeManifestFile(spark, manifestPath, entrySchema,
      Seq("schema" -> schemaJson,
        "partition-spec" -> specFieldsJson(spec),
        "partition-spec-id" -> specId.toString,
        "format-version" -> "2", "content" -> "data"),
      spec.map(_.name), fieldInfo, entries)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", len)
    mf.put("partition_spec_id", specId)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", files.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", files.map(_._3).sum)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    mf
  }

  /** Write one DELETE manifest (content=1 in the manifest list) for
    * position (content=1) or equality (content=2, with equality_ids)
    * delete files at `seq` — the merge-on-read authoring twin of the
    * reader above; specs hand-build v2 tables with it. */
  private[graft] def writeDeleteManifest(spark: SparkSession, mdir: Path,
                                         tag: String, schemaJson: String,
                                         files: Seq[(String, Long, Long, Int, Seq[Int])],
                                         snapId: Long, seq: Long,
                                         specId: Int = 0,
                                         pathBounds: Map[String, (String, String)] = Map.empty,
                                         existingSeqs: Map[String, Long] = Map.empty,
                                         dvRefs: Seq[Option[(String, Long, Long)]] = Seq.empty)
  : GenericRecord = {
    val fs = fsFor(spark, mdir)
    val entries = files.zipWithIndex.map { case ((path, size, nrec, content, eqIds), ei) =>
      // a file in `existingSeqs` CARRIES through this manifest as an
      // EXISTING entry with its ORIGINAL sequence number — delete
      // compaction must never renumber equality deletes (value
      // matching is seq-scoped: a higher seq would re-delete rows
      // written after the original delete)
      EntrySpec(status = if (existingSeqs.contains(path)) 0 else 1,
        snapshotId = snapId, seq = existingSeqs.getOrElse(path, seq),
        content = content, path = path, tuple = Nil,
        records = nrec, size = size, firstRowId = None, stats = None,
        eqIds = eqIds, dvRef = dvRefs.lift(ei).flatten,
        pathBounds = pathBounds.get(path))
    }
    val manifestPath = fs.makeQualified(new Path(mdir, s"manifest-$tag.avro"))
    val len = writeManifestFile(spark, manifestPath, ManifestEntrySchema,
      Seq("schema" -> schemaJson,
        "partition-spec" -> "[]", "partition-spec-id" -> specId.toString,
        "format-version" -> "2", "content" -> "deletes"),
      Nil, Map.empty, entries)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", len)
    mf.put("partition_spec_id", specId)
    mf.put("content", 1)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number",
      (files.map(f => existingSeqs.getOrElse(f._1, seq)) :+ seq).min)
    mf.put("added_snapshot_id", snapId)
    val (exist, added) = files.partition(f => existingSeqs.contains(f._1))
    mf.put("added_files_count", added.size)
    mf.put("existing_files_count", exist.size)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", added.map(_._3).sum)
    mf.put("existing_rows_count", exist.map(_._3).sum)
    mf.put("deleted_rows_count", 0L)
    mf
  }

  private val ManifestFieldAliases = Map(
    "added_files_count" -> "added_data_files_count",
    "existing_files_count" -> "existing_data_files_count",
    "deleted_files_count" -> "deleted_data_files_count")

  /** Copy a manifest-list avro's records into this writer's
    * `manifest_file` schema, so a new snapshot's list can carry them
    * (prior manifests stay valid — avro manifest files are immutable).
    * v1 lists (Java writer) use `*_data_files_count` names for the
    * fields v2 calls `*_files_count` ([[ManifestFieldAliases]]); absent
    * counts default to 0. */
  private def readManifestList(spark: SparkSession, p: Path): Seq[GenericRecord] = {
    val buf = scala.collection.mutable.ArrayBuffer[GenericRecord]()
    foreachAvro(spark, p) { r =>
      val mf = new GenericData.Record(ManifestFileSchema)
      ManifestFileSchema.getFields.asScala.foreach { f =>
        val srcName =
          if (r.getSchema.getField(f.name()) != null) f.name()
          else ManifestFieldAliases.get(f.name())
            .filter(a => r.getSchema.getField(a) != null).orNull
        // default (and coerce) by the TARGET field's Avro type — a
        // java.lang.Long in an int field (or vice versa) fails the
        // subsequent manifest-list write with a ClassCastException
        val v: AnyRef =
          if (srcName != null) r.get(srcName) else null
        val out: AnyRef = f.schema().getType match {
          case Schema.Type.INT => v match {
            case n: java.lang.Number => Int.box(n.intValue())
            case _ => Int.box(0)
          }
          case Schema.Type.LONG => v match {
            case n: java.lang.Number => Long.box(n.longValue())
            case _ => Long.box(0L)
          }
          case _ => v
        }
        mf.put(f.name(), out)
      }
      buf += mf
    }
    buf.toSeq
  }

  /** DDL-first `CREATE TABLE` for the Iceberg flavor: ONE
    * `v1.metadata.json` carrying the declared schema, partition spec
    * (hidden transforms included) and properties with NO snapshot
    * (`current-snapshot-id = -1`, the spec's explicit "none") — so
    * schema and spec bind every writer before the first row:
    * [[write]] appends must shape-match the schema AND re-declare the
    * same canonical partitionBy. */
  def createTable(spark: SparkSession, tablePath: String,
                  schema: StructType, partitionBy: Seq[String] = Nil,
                  properties: Map[String, String] = Map.empty): Unit = {
    val dst = new Path(tablePath)
    val fs = fsFor(spark, dst)
    val mdir = metaDir(tablePath)
    require(!fs.exists(mdir) ||
      fs.globStatus(new Path(mdir, "v*.metadata.json")).isEmpty,
      s"Iceberg table already exists at $tablePath")
    fs.mkdirs(mdir)
    fs.mkdirs(new Path(dst, "data"))
    var idCounter = 0
    val nextId = () => { idCounter += 1; idCounter }
    val schemaObj = sparkTypeToIceberg(schema, nextId).asInstanceOf[ObjectNode]
    schemaObj.put("schema-id", 0)
    val pfs = partitionBy.map(IcebergPartitioning.parse)
    val specFields: Seq[SpecField] = pfs.map { pf =>
      require(schema.fieldNames.contains(pf.source),
        s"unknown partition source column ${pf.source}")
      IcebergPartitioning.requireSupported(pf, schema(pf.source).dataType)
      val srcId = schemaObj.get("fields").elements().asScala
        .find(_.get("name").asText() == pf.source).get.get("id").asInt()
      SpecField(pf.name,
        IcebergPartitioning.resultType(pf, schema(pf.source).dataType),
        srcId, pf.transform)
    }
    val now = System.currentTimeMillis()
    val root = M.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      ("iceberg:" + tablePath).getBytes("UTF-8")).toString)
    root.put("location", fs.makeQualified(dst).toString)
    root.put("last-sequence-number", 0L)
    root.put("last-updated-ms", now)
    root.put("last-column-id", idCounter)
    root.put("current-schema-id", 0)
    root.putArray("schemas").add(schemaObj)
    val sp = root.putArray("partition-specs").addObject()
    sp.put("spec-id", 0)
    sp.set[JsonNode]("fields", M.readTree(specFieldsJson(specFields)))
    root.put("default-spec-id", 0)
    root.put("last-partition-id", 999 + specFields.size)
    root.put("default-sort-order-id", 0)
    val so = root.putArray("sort-orders").addObject()
    so.put("order-id", 0)
    so.putArray("fields")
    root.put("current-snapshot-id", -1L)
    root.putArray("snapshots")
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    val propsNode = root.putObject("properties")
    properties.foreach { case (k, v) => propsNode.put(k, v) }
    val mp = new Path(mdir, "v1.metadata.json")
    // exclusive create = the CAS (NIO O_EXCL on local filesystems —
    // Hadoop's create(path, false) there is check-then-create)
    if (!AtomicCas.createExclusive(fs, mp,
      M.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)))
      throw new IllegalStateException(
        s"$tablePath: v1.metadata.json already exists — a concurrent " +
          "CREATE TABLE won the race")
    val hintOut = fs.create(new Path(mdir, "version-hint.text"), true)
    try hintOut.write("1".getBytes("UTF-8")) finally hintOut.close()
  }

  /** Write `df` as ONE new Iceberg snapshot at `tablePath` — append
    * by default, full overwrite with `overwrite = true`; creates the
    * table when no metadata exists. Appends require an identical
    * schema (loud error). Mirrors [[DeltaLog.write]]; a streaming
    * Iceberg sink is `foreachBatch((b, _) => IcebergTable.write(...))`.
    *
    * `partitionBy` declares the partition spec: plain column names are
    * IDENTITY fields, and the transforms `day(ts)` (also `year`,
    * `month`, `hour`), `bucket(n, col)` and `truncate(w, col)` declare
    * hidden partitioning (see [[IcebergPartitioning]]). Data lands in
    * per-partition files (the source columns stay IN the parquet, per
    * the Iceberg layout), manifests record the real partition tuple per
    * file, and the table metadata carries the spec — so external
    * engines (and [[GraftIcebergTable]]'s scan) prune
    * partition-filtered reads from the manifests alone. Appends must
    * keep the existing spec; an overwrite may redefine it under a
    * fresh spec-id. Returns the committed snapshot id. */
  def write(spark: SparkSession, df0: DataFrame, tablePath: String,
            overwrite: Boolean = false,
            partitionBy: Seq[String] = Nil,
            txn: Option[(String, Long)] = None,
            toBranch: Option[String] = None): Long = {
    val fsConf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(tablePath)
    val fs = dst.getFileSystem(fsConf)
    val mdir = new Path(dst, "metadata")
    fs.mkdirs(mdir)
    fs.mkdirs(new Path(dst, "data"))
    // v3 WRITE-DEFAULTS (spec v3 §Default values): an append that
    // OMITS a defaulted column gets it materialized before the shape
    // gate. One small metadata-JSON read decides — no manifest I/O,
    // and frames already carrying every column skip the projection.
    val df: DataFrame = if (overwrite ||
      fs.globStatus(new Path(mdir, "v*.metadata.json")).isEmpty) df0
    else {
      val meta = readJson(spark, latestMetadataFile(spark, tablePath))
      val fields = Option(currentSchemaNode(meta).get("fields")).toSeq
        .flatMap(_.elements().asScala).toSeq
      val missing = fields.filterNot(f =>
        df0.columns.contains(f.get("name").asText()))
      val fills = missing.flatMap { f =>
        Option(f.get("write-default")).map(v =>
          defaultLiteral(icebergTypeToSpark(f.get("type")), v)
            .as(f.get("name").asText()))
      }
      if (missing.isEmpty || fills.size != missing.size) df0
      else {
        import org.apache.spark.sql.functions.col
        val order = fields.map(_.get("name").asText())
        df0.select((df0.columns.map(col).toSeq ++ fills): _*)
          .select(order.map(col): _*)
      }
    }

    val pfs: Seq[IcebergPartitioning.PartField] =
      partitionBy.map(IcebergPartitioning.parse)
    // append gates, re-checked per CAS attempt when the base advanced
    // (a concurrent ALTER must refuse, a concurrent append must not)
    def checkGates(): Unit = if (!overwrite &&
      fs.globStatus(new Path(mdir, "v*.metadata.json")).nonEmpty) {
      val cur = snapshot(spark, tablePath)
      // names + types must match; nullability and metadata are
      // presentation details parquet does not enforce (same rule as
      // DeltaLog.write's append gate)
      require(looseType(cur.schema) == looseType(df.schema),
        s"append schema ${df.schema.simpleString} does not match table " +
          s"schema ${cur.schema.simpleString}; use overwrite to replace")
      // appends must keep the table's partition spec — transforms
      // included (overwrite may redefine it — a fresh spec-id keeps
      // old manifests coherent)
      val priorSpec = cur.specFields.map(_.canonical)
      require(priorSpec == pfs.map(_.canonical),
        s"append partitionBy $partitionBy does not match the table's " +
          s"partition spec $priorSpec; use overwrite to repartition")
    }
    // listed BEFORE the gates run: a commit landing between the gate
    // and the listing must trigger the rebase re-gate on the first
    // CAS attempt, not slip past it
    val gateVersion: Long = // metadata version the gates were run against
      fs.globStatus(new Path(mdir, "v*.metadata.json")).map(_.getPath.getName)
        .map(_.stripPrefix("v").stripSuffix(".metadata.json").toLong)
        .foldLeft(0L)(math.max)
    checkGates()

    // ---- attempt-invariant staging (once), under the table's DEFAULT
    // SORT ORDER (spec §Sorting, set via setWriteOrder): unpartitioned
    // writes range-partition + locally sort on the order columns, so
    // per-file bounds on the sort key are tight and NON-OVERLAPPING —
    // the layout metadata skipping needs at scale; partitioned writes
    // sort locally within each partition directory (rows are already
    // split by the tree). Advisory by spec: an order naming absent
    // columns is skipped.
    val writeOrder: Seq[(String, Boolean)] =
      if (fs.globStatus(new Path(mdir, "v*.metadata.json")).isEmpty) Seq.empty
      else defaultSortOrder(spark, tablePath)
        .filter { case (c, _) => df.schema.fieldNames.contains(c) }
    import org.apache.spark.sql.functions.col
    val orderCols = writeOrder.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }
    val staged = stageDataFiles(spark,
      if (pfs.nonEmpty || orderCols.isEmpty) df
      else df.repartitionByRange(
        math.max(df.rdd.getNumPartitions, 1), orderCols: _*),
      tablePath, pfs, "w" + java.util.UUID.randomUUID().toString.take(8),
      cluster = false, sortWithin = orderCols)

    casCommit(spark, tablePath) { (prior, metaVersion) =>
      val priorSnaps: Seq[JsonNode] = prior.toSeq.flatMap(snapshotNodes)
      // the idempotent-writer race: the SAME streaming app replaying
      // the same (or an older) batch must refuse, exactly like
      // Delta's ConcurrentTransaction — the sink rechecks watermarks
      txn.foreach { case (appId, batchId) =>
        val dup = priorSnaps.flatMap(n => Option(n.get("summary"))).exists { su =>
          Option(su.get("graft.txn.app-id")).exists(_.asText() == appId) &&
            Option(su.get("graft.txn.batch-id")).exists(_.asText().toLong >= batchId)
        }
        if (dup) throw new CommitConflictException("ConcurrentTransaction",
          s"$tablePath: batch $batchId of app $appId (or newer) was " +
            "committed concurrently — the same idempotent writer raced itself")
      }

      // BRANCH writes (spec §Refs): the append's base is the BRANCH
      // head, not main — carried manifests, the parent pointer and the
      // ref update all follow the branch; main's current-snapshot-id
      // and snapshot-log stay untouched
      val branchHead: Option[Long] = toBranch.map { b =>
        val r = prior.flatMap(m => Option(m.get("refs")))
          .flatMap(rs => Option(rs.get(b)))
          .getOrElse(throw new IllegalArgumentException(
            s"no branch '$b' on $tablePath — createBranch first"))
        require(r.get("type").asText() == "branch",
          s"ref '$b' on $tablePath is a ${r.get("type").asText()} — " +
            "tags are immutable")
        r.get("snapshot-id").asLong()
      }

      // rebase re-gate: a concurrent ALTER must refuse, a concurrent
      // append must not — checked against the SCANNED base, never the
      // version hint (which the winner updates only after its CAS)
      if (metaVersion != gateVersion && !overwrite && prior.nonEmpty) {
        prior.flatMap(m => Option(currentSchemaNode(m))).foreach { n =>
          if (looseType(icebergTypeToSpark(n)) != looseType(df.schema))
            throw new CommitConflictException("MetadataChanged",
              s"$tablePath: the schema changed under this append")
        }
        val dsid = prior.flatMap(m => Option(m.get("default-spec-id")))
          .map(_.asInt()).getOrElse(0)
        val specNow = prior.toSeq.flatMap(m =>
          Option(m.get("partition-specs")).toSeq
            .flatMap(_.elements().asScala))
          .find(_.get("spec-id").asInt() == dsid).toSeq
          .flatMap(sn => Option(sn.get("fields")).toSeq
            .flatMap(_.elements().asScala))
          .map(f => (f.get("name").asText(), f.get("transform").asText()))
        if (specNow != pfs.map(pf => (pf.name, pf.transform)))
          throw new CommitConflictException("MetadataChanged",
            s"$tablePath: the partition spec changed under this append")
      }
      val (schemaObj, schemasOut, lastColumnId) = registerSchema(prior, df.schema)
      val schemaId = schemaObj.get("schema-id").asInt()
      val schemaJson = M.writeValueAsString(schemaObj)

      // partition spec (identity AND transform fields): source ids from
      // the schema object just built; reuse a prior spec-id when the
      // fields match name+transform+source, else a fresh id
      // (overwrite-only — appends gated above)
      val baseSpecFields: Seq[SpecField] = pfs.map { pf =>
        val srcId = schemaObj.get("fields").elements().asScala
          .find(_.get("name").asText() == pf.source).get.get("id").asInt()
        SpecField(pf.name,
          IcebergPartitioning.resultType(pf, df.schema(pf.source).dataType),
          srcId, pf.transform)
      }
      val priorSpecsArr: Seq[JsonNode] = prior.toSeq.flatMap(m =>
        Option(m.get("partition-specs")).toSeq.flatMap(_.elements().asScala))
      val matchingSpec = priorSpecsArr.find(s =>
        Option(s.get("fields")).toSeq.flatMap(_.elements().asScala)
          .map(f => (f.get("name").asText(), f.get("transform").asText(),
            f.get("source-id").asInt())) ==
          baseSpecFields.map(f => (f.name, f.transform, f.sourceId)))
      val specId = matchingSpec.map(_.get("spec-id").asInt()).getOrElse(
        priorSpecsArr.map(_.get("spec-id").asInt()).foldLeft(-1)(math.max) + 1)
      // a matched prior spec's FIELD IDS carry into the manifest (spec
      // evolution keeps ids stable; positional 1000+i only for fresh
      // specs)
      val specFields: Seq[SpecField] = matchingSpec match {
        case Some(s) =>
          val idByName = Option(s.get("fields")).toSeq
            .flatMap(_.elements().asScala)
            .filter(_.has("field-id"))
            .map(f => f.get("name").asText() -> f.get("field-id").asInt())
            .toMap
          baseSpecFields.map(f =>
            f.copy(fieldId = idByName.getOrElse(f.name, -1)))
        case None => baseSpecFields
      }

      // v3 ROW LINEAGE: the snapshot claims [next-row-id, +records)
      // and each added file carries its first_row_id (spec field 142);
      // existing files keep their ranges via the carried manifests.
      // VARIANT is a v3-only type (spec v3 §Semi-structured types): a
      // CREATE carrying one births the table at format-version 3,
      // with row lineage active from the first snapshot as v3 mandates
      val createFv = if (df.schema.fields.exists(f =>
        containsVariant(f.dataType))) 3 else 2
      val ns = nextSnapshot(prior, createFv)
      val newManifest = writeManifest(spark, mdir, s"${ns.tok}-${ns.id}",
        schemaJson, staged.files, ns.id, ns.seq, specFields, staged.tuples,
        specId, staged.stats, fieldInfoOf(schemaObj, df.schema),
        firstRowIds = ns.claim(staged.files))
      // append: the BASE snapshot's manifests carry over (the branch
      // head for branch writes, else main's current)
      val carried: Seq[GenericRecord] =
        if (overwrite) Nil
        else branchHead.orElse(prior.flatMap(currentSnapshotId))
          .flatMap(id => priorSnaps.find(_.get("snapshot-id").asLong() == id))
          .toSeq.flatMap(carriedManifests(spark, _))

      // WRITE-AUDIT-PUBLISH staging (the spec's wap.id convention): on
      // a write.wap.enabled table with spark.wap.id set, the snapshot
      // lands STAGED — present in `snapshots` for auditors to read by
      // id, but not current and not in the snapshot-log — until
      // [[publishWap]] fast-forwards the table to it
      val wapId: Option[String] =
        if (overwrite || toBranch.isDefined) None
        else Option(spark.conf.get("spark.wap.id", null)).filter { _ =>
          prior.exists(m => Option(m.get("properties")).exists(pr =>
            Option(pr.get("write.wap.enabled")).exists(_.asText() == "true")))
        }
      // streaming idempotence marker (the `txn` twin of the Delta sink,
      // carried as snapshot summary properties like real engines'
      // checkpoint ids): a replayed micro-batch at or below the
      // replayed watermark is a no-op
      val summary = Seq("operation" -> (if (overwrite) "overwrite" else "append")) ++
        wapId.map("wap.id" -> _) ++
        txn.toSeq.flatMap { case (appId, batchId) =>
          Seq("graft.txn.app-id" -> appId, "graft.txn.batch-id" -> batchId.toString)
        }

      val root = M.createObjectNode()
      root.put("format-version", prior.flatMap(m =>
        Option(m.get("format-version"))).map(_.asInt()).getOrElse(createFv))
      root.put("table-uuid", prior.flatMap(m => Option(m.get("table-uuid")))
        .map(_.asText()).getOrElse(java.util.UUID.nameUUIDFromBytes(
          ("iceberg:" + tablePath).getBytes("UTF-8")).toString))
      root.put("location", fs.makeQualified(dst).toString)
      root.put("last-column-id", lastColumnId)
      root.put("current-schema-id", schemaId)
      val schemasArr = root.putArray("schemas")
      schemasOut.foreach(schemasArr.add)
      // spec registry: keep every prior spec (old manifests reference
      // their spec-id), add this write's when new, point default at it
      val specsArr = root.putArray("partition-specs")
      priorSpecsArr.foreach(specsArr.add)
      if (matchingSpec.isEmpty) {
        val sp = specsArr.addObject()
        sp.put("spec-id", specId)
        sp.set[JsonNode]("fields", M.readTree(specFieldsJson(specFields)))
      }
      root.put("default-spec-id", specId)
      root.put("last-partition-id", 999 + math.max(specFields.size,
        priorSpecsArr.map(s => Option(s.get("fields"))
          .map(_.size()).getOrElse(0)).foldLeft(0)(math.max)))
      // CARRY the table's sort orders — a WRITE ORDERED BY table must
      // not lose its order on the next append (the same carry bug
      // shape as the properties/refs drop fixed in round 13)
      prior.flatMap(m => Option(m.get("sort-orders"))) match {
        case Some(orders) =>
          root.put("default-sort-order-id",
            prior.flatMap(m => Option(m.get("default-sort-order-id")))
              .map(_.asInt()).getOrElse(0))
          root.set[JsonNode]("sort-orders", orders)
        case None =>
          root.put("default-sort-order-id", 0)
          root.putArray("sort-orders").addObject()
            .put("order-id", 0).putArray("fields")
      }
      root.putArray("metadata-log")
      // table PROPERTIES survive writes (a rebuilt root that dropped
      // them would silently strip SET TBLPROPERTIES on every append)
      prior.flatMap(m => Option(m.get("properties"))) match {
        case Some(props) => root.set[JsonNode]("properties", props.deepCopy())
        case None => root.putObject("properties")
      }
      // snapshot REFS (branches/tags) carry the same way; a branch
      // write ADVANCES its branch head to the new snapshot
      prior.flatMap(m => Option(m.get("refs"))).foreach(r =>
        root.set[JsonNode]("refs", r.deepCopy()))
      toBranch.foreach { b =>
        val e = root.withObject("/refs").putObject(b)
        e.put("snapshot-id", ns.id)
        e.put("type", "branch")
      }
      putSnapshot(spark, tablePath, root, prior, ns, carried :+ newManifest,
        summary, claimed = Some(staged.files.map(_._3).sum),
        branchHead = branchHead,
        current = wapId.isEmpty && toBranch.isEmpty)
      (root, ns.id)
    }
  }
}
