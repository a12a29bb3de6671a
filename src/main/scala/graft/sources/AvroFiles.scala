package graft.sources

import java.io.ByteArrayInputStream

import scala.collection.JavaConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed Avro file ingest/egress built on avro-core alone — no
  * `spark-avro` connector involved (it does not ship in this
  * environment; avro-core does, because Spark itself depends on it).
  * Avro is the Kafka/lakehouse interchange format, so a pipeline
  * engine must read it natively:
  *
  *  - [[read]]: schema from the FIRST file's embedded writer schema
  *    (one driver-side open), then DISTRIBUTED decode — the files
  *    flow through Spark's `binaryFile` source, one task per file,
  *    each task streaming records through `DataFileStream` with the
  *    driver schema as reader schema (avro schema resolution handles
  *    per-file writer-schema drift within compatible evolutions).
  *  - [[write]]: one container file per partition, written straight
  *    from executors ([[org.apache.spark.rdd.RDD#foreachPartition]]
  *    + task-unique names) — no driver funnel.
  *
  * Type mapping (both directions): null-union → nullable, record →
  * struct, array/map, string/enum → string, bytes/fixed → binary,
  * int(date) → date, long(timestamp-micros/millis) → timestamp,
  * int/long/float/double/boolean. Unions beyond `[null, T]` are
  * rejected loudly — never silently coerced.
  */
object AvroFiles {

  // ---------------- avro -> spark ----------------

  private def nonNullBranch(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      if (nonNull.size != 1) throw new UnsupportedOperationException(
        s"only [null, T] avro unions are supported, got $s")
      (nonNull.head, branches.size != nonNull.size)
    } else (s, false)

  private[sources] def avroTypeToSpark(s0: Schema): (DataType, Boolean) = {
    val (s, nullable) = nonNullBranch(s0)
    val logical = Option(s.getLogicalType).map(_.getName).getOrElse("")
    val dt: DataType = s.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT =>
        if (logical == "date") DateType else IntegerType
      case Schema.Type.LONG => logical match {
        case "timestamp-micros" | "timestamp-millis" => TimestampType
        case _ => LongType
      }
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING | Schema.Type.ENUM => StringType
      case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
      case Schema.Type.RECORD => StructType(s.getFields.asScala.map { f =>
        val (t, n) = avroTypeToSpark(f.schema())
        StructField(f.name(), t, n)
      }.toSeq)
      case Schema.Type.ARRAY =>
        val (t, n) = avroTypeToSpark(s.getElementType)
        ArrayType(t, containsNull = n)
      case Schema.Type.MAP =>
        val (t, n) = avroTypeToSpark(s.getValueType)
        MapType(StringType, t, valueContainsNull = n)
      case other => throw new UnsupportedOperationException(
        s"unsupported avro type: $other")
    }
    (dt, nullable)
  }

  /** avro datum → the external Row value Spark expects for `dt`.
    * Schema-driven so unions/logical types convert correctly. */
  private def toRowValue(v: AnyRef, s0: Schema, dt: DataType): Any = {
    if (v == null) return null
    val (s, _) = nonNullBranch(s0)
    dt match {
      case _: StructType =>
        val rec = v.asInstanceOf[GenericRecord]
        val st = dt.asInstanceOf[StructType]
        Row.fromSeq(s.getFields.asScala.toSeq.zip(st.fields).map {
          case (f, sf) => toRowValue(rec.get(f.pos()), f.schema(), sf.dataType)
        })
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.Collection[AnyRef]].asScala
          .map(toRowValue(_, s.getElementType, et)).toSeq
      case MapType(_, vt, _) =>
        v.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.map {
          case (k, mv) => k.toString -> toRowValue(mv, s.getValueType, vt)
        }.toMap
      case StringType => v.toString
      case BinaryType => v match {
        case bb: java.nio.ByteBuffer =>
          val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
        case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
        case other => other.asInstanceOf[Array[Byte]]
      }
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue()))
      case TimestampType =>
        val micros =
          if (Option(s.getLogicalType).exists(_.getName == "timestamp-millis"))
            v.asInstanceOf[Number].longValue() * 1000L
          else v.asInstanceOf[Number].longValue()
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
      case _ => v match { // primitives arrive boxed
        case n: java.lang.Number => dt match {
          case IntegerType => n.intValue()
          case LongType => n.longValue()
          case FloatType => n.floatValue()
          case DoubleType => n.doubleValue()
          case _ => n
        }
        case other => other
      }
    }
  }

  /** Read a directory (or glob) of `.avro` container files as a
    * DataFrame. One driver-side open resolves the schema; decode runs
    * distributed, one task per file. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus returns NULL (not empty) for a non-existent
    // wildcard-free path — guard so the caller gets the intended
    // "no .avro files" message instead of an NPE
    val files = (if (fs.isDirectory(p)) fs.listStatus(p).toSeq
      else Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty))
      .map(_.getPath).filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    require(files.nonEmpty, s"no .avro files under $path")
    readFiles(spark, files.map(_.toString))
  }

  /** [[read]] over an EXPLICIT file list (the Iceberg manifest-driven
    * entry point — the table's live files, not a directory listing). */
  private[sources] def readFiles(spark: SparkSession,
                                 paths: Seq[String]): DataFrame = {
    val fs = new Path(paths.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = paths.map(new Path(_))
    val writerSchemaJson = {
      val in = fs.open(files.head)
      val st = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      try st.getSchema.toString finally st.close()
    }
    val sparkSchema = avroTypeToSpark(new Schema.Parser().parse(writerSchemaJson))
      ._1.asInstanceOf[StructType]

    val bin = spark.read.format("binaryFile")
      .load(files.map(_.toString): _*)
      .select("content")
    val schemaJsonB = spark.sparkContext.broadcast(writerSchemaJson)
    val rows = bin.rdd.mapPartitions { it =>
      val readerSchema = new Schema.Parser().parse(schemaJsonB.value)
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](0)
        val st = new DataFileStream[GenericRecord](
          new ByteArrayInputStream(bytes),
          new GenericDatumReader[GenericRecord](null, readerSchema))
        // DataFileStream is lazily consumed; materialize per file so
        // the stream closes deterministically
        val out = st.iterator().asScala.map(rec =>
          toRowValue(rec, readerSchema, sparkSchema).asInstanceOf[Row]).toList
        st.close()
        out
      }
    }
    spark.createDataFrame(rows, sparkSchema)
  }

  // ---------------- spark -> avro ----------------

  private[sources] def sparkTypeToAvro(dt: DataType, nullable: Boolean,
                                       name: String, ns: String): Schema = {
    val base = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType =>
        org.apache.avro.LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case st: StructType =>
        val rec = Schema.createRecord(name, null, ns, false)
        rec.setFields(st.fields.map { f =>
          new Schema.Field(f.name,
            sparkTypeToAvro(f.dataType, f.nullable, name + "_" + f.name, ns),
            null,
            if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
        }.toList.asJava)
        rec
      case at: ArrayType =>
        Schema.createArray(sparkTypeToAvro(
          at.elementType, at.containsNull, name + "_item", ns))
      case mt: MapType =>
        require(mt.keyType == StringType, "avro map keys must be strings")
        Schema.createMap(sparkTypeToAvro(
          mt.valueType, mt.valueContainsNull, name + "_value", ns))
      case other => throw new UnsupportedOperationException(
        s"cannot write Spark type $other to avro")
    }
    if (nullable && base.getType != Schema.Type.UNION)
      Schema.createUnion(Schema.create(Schema.Type.NULL), base)
    else base
  }

  private def toAvroValue(v: Any, s0: Schema): AnyRef = {
    if (v == null) return null
    val (s, _) = nonNullBranch(s0)
    (v, s.getType) match {
      case (r: Row, Schema.Type.RECORD) =>
        val rec = new GenericData.Record(s)
        s.getFields.asScala.foreach { f =>
          rec.put(f.pos(), toAvroValue(r.get(f.pos()), f.schema()))
        }
        rec
      case (seq: scala.collection.Seq[_], Schema.Type.ARRAY) =>
        seq.map(x => toAvroValue(x, s.getElementType)).asJava
      case (m: scala.collection.Map[_, _], Schema.Type.MAP) =>
        m.map { case (k, mv) =>
          k.toString -> toAvroValue(mv, s.getValueType)
        }.toMap.asJava
      case (d: java.sql.Date, _) =>
        java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
      case (t: java.sql.Timestamp, _) =>
        java.lang.Long.valueOf(
          t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L)
      case (b: Array[Byte], _) => java.nio.ByteBuffer.wrap(b)
      case (other, _) => other.asInstanceOf[AnyRef]
    }
  }

  /** Write `df` as avro container files under `dir` — one file per
    * partition, written from the executors. Returns the file count. */
  def write(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val schema = sparkTypeToAvro(df.schema, nullable = false, "topLevelRecord",
      "graft.avro").toString
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val dirB = dir
    df.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val s = new Schema.Parser().parse(schema)
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        // stage-then-adopt commit protocol (the DeltaLog.write
        // pattern): write to a task-attempt-unique temp name, rename
        // into place on success. Two racing attempts (speculation, a
        // retry after a partial write) then never interleave bytes in
        // the final file — the loser's rename fails or both rename
        // complete files, last-writer-wins with a whole file.
        val fin = new Path(dirB, f"part-$pid%05d.avro")
        val tmp = new Path(dirB, f".part-$pid%05d-attempt-${tc.taskAttemptId()}.avro.tmp")
        val fs = fin.getFileSystem(conf.value)
        val out = fs.create(tmp, true)
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](s))
        w.create(s, out)
        try it.foreach(r => w.append(
          toAvroValue(r, s).asInstanceOf[GenericRecord]))
        finally w.close()
        fs.delete(fin, false) // replace a prior attempt's whole file
        if (!fs.rename(tmp, fin)) {
          fs.delete(tmp, false)
          throw new IllegalStateException(s"commit rename failed for $fin")
        }
      }
    }
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".avro"))
  }
}
