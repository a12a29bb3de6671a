package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.{DecryptionPropertiesFactory, EncryptionPropertiesFactory, FileDecryptionProperties, FileEncryptionProperties}
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.spark.sql.functions._

/** A parquet crypto factory that encrypts and decrypts nothing and
  * records every file it is asked to decrypt: proof that a read was
  * built from the conf that carries it. (Spark's parquet writer loads
  * the same key as an [[EncryptionPropertiesFactory]], so it is both.) */
class CountingCryptoFactory extends DecryptionPropertiesFactory
  with EncryptionPropertiesFactory {
  override def getFileDecryptionProperties(conf: Configuration, path: Path)
  : FileDecryptionProperties = {
    CountingCryptoFactory.consulted.add(path.toUri.getPath)
    null
  }
  override def getFileEncryptionProperties(conf: Configuration, path: Path,
                                           ctx: WriteContext)
  : FileEncryptionProperties = null
}

object CountingCryptoFactory {
  val consulted = new ConcurrentLinkedQueue[String]()
}

/** graft's own parquet footer and record reads ([[FooterIo]]) honour
  * the caller's Hadoop conf: each one consults the conf's
  * `parquet.crypto.factory.class` exactly once per file, on both legs
  * of the footer-stats gate. */
class FooterConfSpec extends graft.SparkSpec {
  import spark.implicits._

  private val FactoryKey = "parquet.crypto.factory.class"
  private def conf = spark.sparkContext.hadoopConfiguration

  private def df = (0L until 48L).map(i => (i, s"v$i", i * 2.0))
    .toDF("k", "s", "v").repartition(3, col("k"))

  /** Parquet files under `root` the factory was asked about while
    * `body` ran, with their counts. */
  private def consultedUnder(root: String)(body: => Unit): Map[String, Int] = {
    CountingCryptoFactory.consulted.clear()
    conf.set(FactoryKey, classOf[CountingCryptoFactory].getName)
    try body finally conf.unset(FactoryKey)
    CountingCryptoFactory.consulted.asScala.toSeq
      .filter(p => p.startsWith(root) && p.endsWith(".parquet"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size }
  }

  private def tmp(): String =
    Files.createTempDirectory("graft-footer-conf").toString + "/t"

  private def onBothGateLegs(body: String => Unit): Unit =
    try Seq("10000", "1").foreach { gate =>
      spark.conf.set("spark.sql.graft.footerStatsDriverMaxFiles", gate)
      body(gate)
    } finally spark.conf.unset("spark.sql.graft.footerStatsDriverMaxFiles")

  test("DeltaLog.write's footer stats read with the session's Hadoop conf, once per staged file") {
    onBothGateLegs { gate =>
      val t = tmp()
      val seen = consultedUnder(t)(DeltaLog.write(spark, df, t))
      val staged = DeltaLog.snapshot(spark, t).files
        .map(f => new Path(t, f.path).toUri.getPath).toSet
      assert(staged.size === 3)
      assert(seen === staged.map(_ -> 1).toMap, s"gate $gate")
    }
  }

  test("IcebergTable.write's footer stats read with the session's Hadoop conf, once per staged file") {
    onBothGateLegs { gate =>
      val t = tmp()
      val seen = consultedUnder(t)(IcebergTable.write(spark, df, t))
      val staged = IcebergTable.snapshot(spark, t).files
        .map(f => new Path(f.path).toUri.getPath).toSet
      assert(staged.size === 3)
      assert(seen === staged.map(_ -> 1).toMap, s"gate $gate")
    }
  }

  test("Delta checkpoint and position-delete record reads build from the caller's conf") {
    val t = tmp()
    DeltaLog.write(spark, df, t)
    DeltaLog.write(spark, df, t)
    DeltaLog.checkpoint(spark, t, 1L)
    val fs = new Path(t).getFileSystem(conf)
    val ckpts = fs.listStatus(new Path(t, "_delta_log")).map(_.getPath)
      .filter(_.getName.matches(""".*\.checkpoint.*\.parquet""")).toSeq
    assert(ckpts.nonEmpty)
    val withFactory = new Configuration(conf)
    withFactory.set(FactoryKey, classOf[CountingCryptoFactory].getName)

    CountingCryptoFactory.consulted.clear()
    val nodes = DeltaCheckpointIo.readActionNodes(withFactory,
      new com.fasterxml.jackson.databind.ObjectMapper(), ckpts.map(_.toString))
    assert(nodes.exists(_.exists(_.has("add"))))
    assert(CountingCryptoFactory.consulted.asScala.toSeq.sorted
      === ckpts.map(_.toUri.getPath).sorted)

    val pd = new Path(t.stripSuffix("/t"), "pd.parquet")
    PosDeleteIo.writeSorted(conf, pd, Seq(("f", 1L), ("f", 2L)))
    CountingCryptoFactory.consulted.clear()
    assert(PosDeleteIo.readAll(withFactory, Seq(pd.toString))
      === Seq(("f", 1L), ("f", 2L)))
    assert(CountingCryptoFactory.consulted.asScala.toSeq === Seq(pd.toUri.getPath))
  }
}
