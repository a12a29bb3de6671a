package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.net.{URL, URLClassLoader}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, Type}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StagingWrite
import org.apache.spark.sql.types._

/** The staging-write kernel against `df.write.parquet` /
  * `partitionBy`: on the same frame both write the same rows into the
  * same partition directories, with the same footer Spark schemas and
  * parquet field ids. The compact Hadoop conf the kernel ships holds
  * exactly the session conf's pairs, and no per-key source records. */
class StagingWriteSpec extends graft.SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmp(): String = Files.createTempDirectory("graft-staging").toString

  private def parquetFiles(root: String): Seq[Path] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.toString.contains("/_"))
  }

  private def fieldIds(t: Type, prefix: String): Seq[(String, Int)] = {
    val path = prefix + t.getName
    val own = Option(t.getId).map(id => path -> id.intValue()).toSeq
    own ++ (if (t.isPrimitive) Nil
            else t.asInstanceOf[GroupType].getFields.asScala.toSeq
              .flatMap(fieldIds(_, path + ".")))
  }

  /** Per partition directory (relative to `root`): the footer Spark
    * schemas and parquet field ids of its files. */
  private def layout(root: String): Map[String, Set[(String, Seq[(String, Int)])]] = {
    val rootQ = new Path(root).getFileSystem(conf).makeQualified(new Path(root)).toString
    parquetFiles(root).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val meta = try r.getFooter.getFileMetaData finally r.close()
      val dir = f.getParent.toString.stripPrefix(rootQ).stripPrefix("/")
      dir -> (meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        meta.getSchema.getFields.asScala.toSeq.flatMap(fieldIds(_, "")))
    }.groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
  }

  private def rows(root: String): Seq[String] =
    spark.read.parquet(root).collect().map(_.toString).toSeq.sorted

  /** Writes `df` both ways and returns the kernel's layout. */
  private def parity(df: DataFrame, parts: String*): Map[String, Set[(String, Seq[(String, Int)])]] = {
    val (viaWriter, viaKernel) = (tmp() + "/w", tmp() + "/k")
    df.write.partitionBy(parts: _*).parquet(viaWriter)
    StagingWrite.parquet(df, viaKernel, parts)
    assert(rows(viaKernel) === rows(viaWriter))
    val l = layout(viaKernel)
    assert(l === layout(viaWriter))
    l
  }

  test("unpartitioned: the same rows, files and footer schema as df.write.parquet") {
    val df = (0 until 40).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("k", "s", "v")
      .repartition(3)
    val l = parity(df)
    assert(l.keySet === Set(""))
    assert(l("").map(_._1).forall(_.contains("\"k\"")))
  }

  test("partitioned: null and empty-string partition values both land in __HIVE_DEFAULT_PARTITION__") {
    val df = Seq((1, "a"), (2, null), (3, ""), (4, "b"), (5, ""), (6, "a"))
      .toDF("id", "p").repartition(2)
    val l = parity(df, "p")
    assert(l.keySet === Set("p=a", "p=b", "p=__HIVE_DEFAULT_PARTITION__"))
    val k = tmp() + "/k"
    StagingWrite.parquet(df, k, Seq("p"))
    assert(spark.read.parquet(s"$k/p=__HIVE_DEFAULT_PARTITION__").select("id")
      .as[Int].collect().sorted.toSeq === Seq(2, 3, 5))
  }

  test("nested struct and array columns write the same footer schema") {
    val df = (0 until 12).map(i => (i, i % 3)).toDF("id", "g")
      .select(col("g"), struct(col("id"), concat(lit("x"), col("id")).as("s")).as("st"),
        array(col("id"), col("id") + 1).as("arr"))
    parity(df, "g")
  }

  test("id-mode fields keep their parquet.field.id") {
    def id(n: Long) = new MetadataBuilder().putLong("parquet.field.id", n).build()
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = true, id(7)),
      StructField("b", StringType, nullable = true, id(9)),
      StructField("c", IntegerType, nullable = true)))
    val df = spark.createDataFrame(
      (0 until 10).map(i => Row(i.toLong, s"b$i", i % 2)).asJava, schema)
    val l = parity(df, "c")
    val ids = l.values.flatten.flatMap(_._2).toSet
    assert(ids === Set("a" -> 7, "b" -> 9))
  }

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialized(c: Configuration): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    c.write(out)
    out.flush()
    bos.toByteArray
  }

  /** gzip member headers (magic 1f 8b, deflate) in `b`. */
  private def gzipStreams(b: Array[Byte]): Int =
    b.indices.dropRight(2).count(i => b(i) == 0x1f.toByte && b(i + 1) == 0x8b.toByte &&
      b(i + 2) == 8)

  test("the compact conf holds exactly the session conf's pairs, also through a JobConf, and its class loader") {
    val src = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val loader = new URLClassLoader(Array.empty[URL], getClass.getClassLoader)
    src.setClassLoader(loader)
    val snap = StagingWrite.compactConf(src)
    assert(pairs(src).size > 100)
    assert(pairs(snap) === pairs(src))
    assert(pairs(new JobConf(snap)) === pairs(src))
    assert(snap.getClassLoader eq loader)
    assert(new JobConf(snap).getClassLoader eq loader)

    // no source records: nothing to gzip, and a round trip keeps the pairs
    assert(gzipStreams(serialized(src)) > 100)
    assert(gzipStreams(serialized(snap)) === 0)
    val back = new Configuration(false)
    back.readFields(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(serialized(snap))))
    assert(pairs(back) === pairs(src))

    // a later change to the source does not reach the snapshot
    src.set("graft.staging.spec.probe", "1")
    assert(snap.get("graft.staging.spec.probe") === null)
  }

  test("SerializableHadoopConf ships the compact snapshot") {
    val src = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val bos = new ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new SerializableHadoopConf(src))
    oos.close()
    assert(gzipStreams(bos.toByteArray) === 0)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
    assert(pairs(back.value) === pairs(src))
  }
}
