package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** DRIVER-side reader for Delta CHECKPOINT parquet (classic,
  * multipart parts, v2 tops and sidecars): each row becomes the SAME
  * JsonNode action shape a commit-JSON line parses to, so the driver
  * replay fast path ([[DeltaLog.snapshot]]) consumes checkpoints
  * through the IDENTICAL reconciliation code as the JSON tail — no
  * second replay semantics to drift. Only the action fields replay
  * actually reads are projected (by name, types taken from the file's
  * own schema), so foreign checkpoints carrying exotic extras
  * (stats_parsed structs with timestamps, etc.) never even
  * materialize them. Anything unconvertible inside a NEEDED field
  * returns None and the caller falls back to the distributed replay —
  * never a silent wrong read. Callers gate on file sizes BEFORE
  * calling; this is metadata-scaled work only. */
private[sources] object DeltaCheckpointIo {
  private final class Unconvertible(msg: String)
    extends RuntimeException(msg)

  /** Action columns the replay consumes; None = the whole subtree as
    * the file declares it (safe: spec'd simple types only). */
  private val Needed: Map[String, Option[Set[String]]] = Map(
    "protocol" -> None,
    "metaData" -> None,
    "add" -> Some(Set("path", "partitionValues", "size",
      "modificationTime", "stats", "deletionVector", "baseRowId",
      "defaultRowCommitVersion")),
    "remove" -> Some(Set("path")),
    "txn" -> Some(Set("appId", "version")),
    "domainMetadata" -> Some(Set("domain", "configuration", "removed")),
    "sidecar" -> Some(Set("path", "sizeInBytes")))

  private final class CheckpointReadSupport extends ReadSupport[Group] {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      val fields = (0 until file.getFieldCount).flatMap { i =>
        val f = file.getFields.get(i)
        Needed.get(f.getName).map {
          case None => f
          case Some(subs) => f match {
            case g: GroupType =>
              val kept = (0 until g.getFieldCount)
                .map(j => g.getFields.get(j))
                .filter(s => subs.contains(s.getName))
              if (kept.isEmpty) g else
                new GroupType(g.getRepetition, g.getName,
                  java.util.Arrays.asList(kept: _*))
            case p => p // declared primitive: take as-is, convert loudly
          }
        }
      }
      new ReadSupport.ReadContext(
        new MessageType(file.getName, java.util.Arrays.asList(fields: _*)))
    }
    override def prepareForRead(conf: Configuration,
                                meta: java.util.Map[String, String],
                                fileSchema: MessageType,
                                rc: ReadSupport.ReadContext)
    : RecordMaterializer[Group] =
      new GroupRecordConverter(rc.getRequestedSchema)
  }

  private def isString(p: PrimitiveType): Boolean =
    p.getLogicalTypeAnnotation
      .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]

  /** One field instance → JsonNode (throws [[Unconvertible]] on types
    * no Delta checkpoint action field legitimately has). */
  private def fieldToJson(m: ObjectMapper, g: Group, i: Int, idx: Int,
                          t: Type): com.fasterxml.jackson.databind.JsonNode =
    t match {
      case p: PrimitiveType => p.getPrimitiveTypeName match {
        case BINARY if isString(p) =>
          m.getNodeFactory.textNode(g.getString(i, idx))
        case INT64 => m.getNodeFactory.numberNode(g.getLong(i, idx))
        case INT32 => m.getNodeFactory.numberNode(g.getInteger(i, idx))
        case BOOLEAN => m.getNodeFactory.booleanNode(g.getBoolean(i, idx))
        case DOUBLE => m.getNodeFactory.numberNode(g.getDouble(i, idx))
        case FLOAT => m.getNodeFactory.numberNode(g.getFloat(i, idx))
        case other => throw new Unconvertible(
          s"checkpoint field ${t.getName}: $other")
      }
      case gt: GroupType =>
        val sub = g.getGroup(i, idx)
        gt.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
            // map<string,string>: repeated key_value { key, value }
            val kv = gt.getType(0).asGroupType()
            if (!isString(kv.getType(0).asPrimitiveType()))
              throw new Unconvertible(s"non-string map key in ${t.getName}")
            val node = m.createObjectNode()
            val reps = sub.getFieldRepetitionCount(0)
            (0 until reps).foreach { r =>
              val entry = sub.getGroup(0, r)
              val k = entry.getString(0, 0)
              if (kv.getFieldCount > 1 && entry.getFieldRepetitionCount(1) > 0)
                node.set[ObjectNode](k,
                  fieldToJson(m, entry, 1, 0, kv.getType(1)))
              else node.putNull(k)
            }
            node
          case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
            // 3-level list: repeated group list { element }
            val arr = m.createArrayNode()
            val inner = gt.getType(0)
            val reps = sub.getFieldRepetitionCount(0)
            (0 until reps).foreach { r =>
              inner match {
                case ig: GroupType =>
                  val el = sub.getGroup(0, r)
                  if (el.getFieldRepetitionCount(0) > 0)
                    arr.add(fieldToJson(m, el, 0, 0, ig.getType(0)))
                  else arr.addNull()
                case ip: PrimitiveType => // legacy 2-level
                  arr.add(fieldToJson(m, sub, 0, r, ip))
              }
            }
            arr
          case _ =>
            val node = m.createObjectNode()
            (0 until gt.getFieldCount).foreach { j =>
              val ft = gt.getType(j)
              if (sub.getFieldRepetitionCount(j) > 0)
                node.set[ObjectNode](ft.getName,
                  fieldToJson(m, sub, j, 0, ft))
            }
            node
        }
    }

  private def rowToJson(m: ObjectMapper, g: Group): ObjectNode = {
    val t = g.getType
    val node = m.createObjectNode()
    (0 until t.getFieldCount).foreach { i =>
      if (g.getFieldRepetitionCount(i) > 0)
        node.set[ObjectNode](t.getType(i).getName,
          fieldToJson(m, g, i, 0, t.getType(i)))
    }
    node
  }

  /** Read parquet checkpoint/sidecar files, one action node per row
    * (projected to the replay-needed fields). None ⇒ caller must use
    * the distributed replay. */
  def readActionNodes(conf: Configuration, mapper: ObjectMapper,
                      paths: Seq[String]): Option[Vector[ObjectNode]] =
    try Some(FooterIo.mapAll(paths) { p =>
      val reader = FooterIo.reader(conf, new Path(p), new CheckpointReadSupport)
      val buf = Vector.newBuilder[ObjectNode]
      try {
        var g: Group = reader.read()
        while (g != null) {
          buf += rowToJson(mapper, g)
          g = reader.read()
        }
      } finally reader.close()
      buf.result()
    }.toVector.flatten)
    catch {
      case _: Unconvertible => None
      // Schema-shape surprises in a FOREIGN checkpoint hit unguarded
      // casts before the Unconvertible guards (e.g. asGroupType on an
      // unexpected map layout throws ClassCastException). The
      // documented contract is "caller falls back to the distributed
      // replay", so ANY non-I/O failure degrades to None; real I/O
      // errors propagate — the distributed path would hit them too.
      case e if scala.util.control.NonFatal(e) &&
        !e.isInstanceOf[java.io.IOException] => None
    }
}
