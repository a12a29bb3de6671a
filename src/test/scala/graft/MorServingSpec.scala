package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

/** Executor-side MOR serving contracts that don't need a table. */
class MorServingSpec extends graft.SparkSpec {

  test("an equality column set unseen at factory build refuses with a restart pointer (never a silent miss)") {
    val factory = new MorReaderFactory(null, null,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val fp = FilePartition(0, Array(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString("/nope.parquet"), 0L, 1L,
      Array.empty[String], 0L, 1L, Map.empty)))
    val e = intercept[UnsupportedOperationException] {
      factory.createReader(IcebergRowDiffPartition(fp, "/nope.parquet",
        select = false, Nil, Nil,
        selEq = Seq(EqDeleteRef("/eq.parquet", 1L, Seq("k")))))
    }
    assert(e.getMessage.contains("restart"), e.getMessage)
  }

  test("SerializableHadoopConf ships the conf as of wrapper build: a later change rides the next wrapper") {
    def roundTrip(w: SerializableHadoopConf): SerializableHadoopConf = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(w)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(
        bos.toByteArray)).readObject().asInstanceOf[SerializableHadoopConf]
    }
    val key = "graft.spec.serializable-conf"
    val c = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val first = new SerializableHadoopConf(c)
    assert(roundTrip(first).value.get(key) === null)
    c.set(key, "v1")
    assert(roundTrip(new SerializableHadoopConf(c)).value.get(key) === "v1")
    // the first wrapper keeps its build-time state, and a deserialized
    // wrapper re-ships what it received
    assert(roundTrip(first).value.get(key) === null)
    assert(roundTrip(roundTrip(new SerializableHadoopConf(c))).value.get(key) === "v1")
  }
}
