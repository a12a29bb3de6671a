package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.unsafe.types.UTF8String

/** DRIVER-side I/O for Iceberg POSITION-DELETE parquet (spec columns
  * `file_path` string / `pos` long). Every site that stages one of
  * these files already holds the rows ON THE DRIVER, bounded by the
  * MOR cardinality gate (`spark.graft.mor.maxDeleteRows`) — shipping
  * them back through a one-task Spark job just to serialize a few MB
  * of parquet costs a full scheduler round-trip (task binary
  * broadcast + launch + commit) per DML commit. Writing the file with
  * parquet-mr on the driver removes that job; the gate keeps the
  * driver memory bound exactly as before. Over-gate paths never reach
  * these helpers (COW fallback / distributed rewrite). */
private[sources] object PosDeleteIo {
  /** The spec's UTF-8 byte order for `file_path` (what Spark's sort
    * produced before; differs from java.lang.String order only for
    * non-BMP code points, but exactness is free). */
  private val utf8Order: Ordering[String] = Ordering.comparatorToOrdering(
    java.util.Comparator.comparing((s: String) => UTF8String.fromString(s)))
  private val rowOrder: Ordering[(String, Long)] =
    Ordering.Tuple2(utf8Order, Ordering.Long)

  private val Schema = MessageTypeParser.parseMessageType(
    "message pos_deletes { optional binary file_path (UTF8); " +
      "optional int64 pos; }")

  /** Write `rows` as ONE position-delete parquet at `dest` (snappy,
    * spec-sorted by (file_path UTF-8, pos)). Returns the row count. */
  def writeSorted(conf: Configuration, dest: Path,
                  rows: Seq[(String, Long)]): Long = {
    // clone: GroupWriteSupport publishes the schema via the conf
    val c = new Configuration(conf)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(dest, c))
      .withConf(c)
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val fac = new SimpleGroupFactory(Schema)
    try rows.sorted(rowOrder).foreach { case (p, ri) =>
      val g = fac.newGroup()
      g.append("file_path", p)
      g.append("pos", ri)
      writer.write(g)
    } finally writer.close()
    rows.size.toLong
  }

  /** Projection read support taking `file_path`/`pos` AS DECLARED by
    * each file (foreign engines write them `required`, Spark-written
    * legacy files `optional` — parquet projection demands the exact
    * repetition, so a fixed requested schema would refuse one or the
    * other; extra spec columns like `row` project away either way). */
  private final class PosDeleteReadSupport extends ReadSupport[Group] {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      def fieldOf(n: String): org.apache.parquet.schema.Type =
        file.getFields.get(file.getFieldIndex(n))
      new ReadSupport.ReadContext(new MessageType(file.getName,
        fieldOf("file_path"), fieldOf("pos")))
    }
    override def prepareForRead(conf: Configuration,
                                meta: java.util.Map[String, String],
                                fileSchema: MessageType,
                                rc: ReadSupport.ReadContext)
    : RecordMaterializer[Group] =
      new GroupRecordConverter(rc.getRequestedSchema)
  }

  /** Read the (file_path, pos) columns of position-delete parquet
    * files on the driver. Files are read concurrently on the bounded
    * footer-I/O pool. Callers gate on the manifest-recorded row
    * counts BEFORE calling. */
  def readAll(conf: Configuration, paths: Seq[String]): Seq[(String, Long)] =
    FooterIo.mapAll(paths) { p =>
      val reader = FooterIo.reader(conf, new Path(p), new PosDeleteReadSupport)
      val buf = Vector.newBuilder[(String, Long)]
      try {
        var g: Group = reader.read()
        while (g != null) {
          buf += ((g.getString("file_path", 0), g.getLong("pos", 0)))
          g = reader.read()
        }
      } finally reader.close()
      buf.result()
    }.flatten
}
