package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, V1WritesUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** The one staging-write kernel: every graft-internal parquet write
  * (Delta and Iceberg staging, DML and OPTIMIZE rewrites, equality-
  * and position-delete files, streaming tmp swaps, DQ routing) runs
  * Spark's own [[FileFormatWriter]] — the engine under
  * `df.write.parquet` — directly, with what the `df.write` command
  * would hand it: the session's commit-protocol class,
  * [[ParquetFileFormat]], the empty-string→null projection of string
  * partition columns (`V1WritesUtils.convertEmptyToNull`, so `""` and
  * `null` both land in `__HIVE_DEFAULT_PARTITION__`) and a
  * [[BasicWriteJobStatsTracker]].
  *
  * What it changes is the Hadoop conf: [[compactConf]] of the session
  * conf instead of the conf itself. A write task ships that conf twice
  * (in the job description and in the stats tracker), and
  * `Configuration.write` emits every key's SOURCE record (e.g.
  * `core-default.xml`) as its own gzip stream — ~1,100 Deflaters per
  * serialization, and per deserialization ~1,100 Inflaters plus one
  * thrown-and-caught `EOFException` per key, in every task of every
  * write. The compact snapshot carries the same keys and values and no
  * sources; only the ~10 keys `FileFormatWriter` itself sets on its
  * JobConf copy (output path, write support, parquet options, job
  * UUID) are recorded with a source again.
  *
  * This package sits under `org.apache.spark.sql` for the
  * `private[spark]` / `private[sql]` members it needs (see
  * [[StreamingBatchShim]]). */
object StagingWrite {

  /** The same `(key, value)` pairs as `conf`, with no per-key source
    * records, so `Configuration.write` emits no gzip stream and
    * `readFields` throws no `EOFException`. Sources are read only by
    * `getPropertySources` and `dumpConfiguration`, and graft calls
    * neither. The copy is a [[JobConf]] so the mapred defaults a
    * JobConf adds are in it whichever class loaded first; later
    * changes to `conf` do not reach the snapshot. The snapshot keeps
    * `conf`'s class loader. */
  def compactConf(conf: Configuration): Configuration = {
    val snap = new Configuration(false)
    snap.addResource(new JobConf(conf))
    snap.setClassLoader(conf.getClassLoader)
    snap
  }

  /** Write `df` as parquet under `path`, hive-partitioned by
    * `partitionBy` when it is non-empty — the files, directories and
    * footers `df.write.partitionBy(partitionBy: _*).parquet(path)`
    * writes. An existing `path` is appended to, as SaveMode.Append
    * would. */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val d = df.asInstanceOf[Dataset[_]]
    val session = d.sparkSession
    val resolver = session.sessionState.conf.resolver
    def partAttrs(out: Seq[Attribute]): Seq[Attribute] =
      partitionBy.map(c => out.find(a => resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not one of ${out.map(_.name).mkString(", ")}")))
    val query = d.logicalPlan
    val empty2Null = V1WritesUtils.convertEmptyToNull(query.output, partAttrs(query.output))
    val qe = session.sessionState.executePlan(
      if (empty2Null.isEmpty) query else Project(empty2Null, query))
    val output = qe.analyzed.output
    val hadoopConf = compactConf(session.sessionState.newHadoopConfWithOptions(Map.empty))
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(out)
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString,
      outputPath = qualified.toString)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, output),
        hadoopConf, partAttrs(output), None,
        Seq(new BasicWriteJobStatsTracker(new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics)),
        Map.empty)
    }
    session.sharedState.cacheManager.recacheByPath(session, qualified, fs)
  }
}
