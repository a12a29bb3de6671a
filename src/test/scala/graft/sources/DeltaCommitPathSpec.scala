package graft.sources

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared Delta commit path: every data-changing command stages
  * its files through one adoption step and encodes them with one
  * encoder, so each commit's file actions obey the same rules — no
  * 0-row adds, fresh row ids contiguous from the watermark, removes
  * exactly the files that left the table — and the footer-stats gate
  * takes either leg with the same result. */
class DeltaCommitPathSpec extends graft.SparkSpec {
  import spark.implicits._

  private val M = new ObjectMapper()
  private val GateKey = "spark.sql.graft.footerStatsDriverMaxFiles"
  private val DvKey = "spark.graft.dv.enabled"

  private def tmp(): String =
    Files.createTempDirectory("graft-commit-path").toString + "/t"

  private def rows(ids: Range, tag: String): DataFrame =
    ids.map(i => (i, Seq("a", "b", "c")(i % 3), i.toLong * 10, s"$tag$i"))
      .toDF("id", "p", "v", "s")

  private def actions(t: String, v: Long): Seq[JsonNode] = {
    val p = new Path(new Path(t, "_delta_log"), f"$v%020d.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map(l => M.readTree(l)).toList
    finally in.close()
  }

  /** A file's identity across versions: partition dir + file name,
    * plus its deletion vector (a DV change is a remove + re-add). */
  private def key(path: String, dv: Option[String]): (String, Option[String]) =
    (DeltaLog.decodePath(path).split('/').takeRight(2).mkString("/"), dv)

  private def liveKeys(t: String, v: Long): Set[(String, Option[String])] =
    DeltaLog.snapshot(spark, t, versionAsOf = Some(v)).files
      .map(f => key(f.path, f.dv.map(_.pathOrInlineDv))).toSet

  private def numRecords(add: JsonNode): Long =
    M.readTree(add.get("stats").asText()).get("numRecords").asLong()

  /** Runs `cmd`, which must commit, and checks its commit's file
    * actions against the snapshots on both sides of it. */
  private def checkCommit(t: String, what: String)(cmd: => Long): Long = {
    val before = DeltaLog.snapshot(spark, t)
    val v = cmd
    assert(v === before.version + 1, s"$what committed no version")
    val acts = actions(t, v)
    val adds = acts.flatMap(n => Option(n.get("add")))
    val removes = acts.flatMap(n => Option(n.get("remove")))
    val prior = liveKeys(t, before.version)
    val live = liveKeys(t, v)
    adds.foreach(a => assert(numRecords(a) > 0L,
      s"$what added a 0-row file ${a.get("path").asText()}"))
    assert(removes.map(r => key(r.get("path").asText(), None)._1).toSet ===
      (prior -- live).map(_._1), s"$what removes")
    assert(adds.map(a => key(a.get("path").asText(),
      Option(a.get("deletionVector")).map(_.get("pathOrInlineDv").asText())))
      .toSet === live -- prior, s"$what adds")
    // fresh row ids: contiguous ranges from the prior watermark, the
    // last one ending at the commit's watermark domain
    val fresh = adds.filter(_.get("defaultRowCommitVersion").asLong() == v)
    val hwm0 = DeltaLog.rowIdHighWaterMark(before)
    val end = fresh.foldLeft(hwm0 + 1) { (next, a) =>
      assert(a.get("baseRowId").asLong() === next, s"$what row ids")
      next + numRecords(a)
    }
    val domainHwm = acts.flatMap(n => Option(n.get("domainMetadata")))
      .filter(_.get("domain").asText() == "delta.rowTracking")
      .map(d => M.readTree(d.get("configuration").asText())
        .get("rowIdHighWaterMark").asLong())
    assert(domainHwm === (if (fresh.isEmpty) Nil else Seq(end - 1)),
      s"$what watermark")
    assert(DeltaLog.rowIdHighWaterMark(DeltaLog.snapshot(spark, t)) ===
      math.max(hwm0, end - 1))
    v
  }

  test("every data-changing command commits non-empty adds, contiguous row ids and exact removes") {
    val t = tmp()
    DeltaLog.write(spark, rows(1 to 30, "w"), t, partitionBy = Seq("p"))
    DeltaLog.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.setTableProperties(spark, t,
      Map("delta.enableRowTracking" -> "true"))

    checkCommit(t, "append")(DeltaLog.write(spark, rows(31 to 45, "a"), t))
    val overwritten = checkCommit(t, "overwrite")(
      DeltaLog.write(spark, rows(1 to 60, "o"), t, overwrite = true))
    checkCommit(t, "merge")(DeltaLog.merge(spark, t,
      rows(55 to 70, "m"), Seq("id")))
    checkCommit(t, "mergeFlexible")(DeltaLog.mergeFlexible(spark, t,
      rows(1 to 12, "f"), Seq("id"),
      matched = Seq(
        MergeSpec.Matched(Some(col("id") % 4 === 0), delete = true),
        MergeSpec.Matched(None, delete = false,
          Seq("s" -> col(MergeSpec.SrcPrefix + "s")))),
      notMatched = Seq(MergeSpec.NotMatched(None))))
    checkCommit(t, "COW delete")(
      DeltaLog.delete(spark, t, col("id") % 7 === 0))
    checkCommit(t, "COW update")(DeltaLog.update(spark, t,
      col("id") % 5 === 0, Map("v" -> (col("v") + 1))))
    spark.conf.set(DvKey, "true")
    try {
      checkCommit(t, "DV delete")(
        DeltaLog.delete(spark, t, col("id") % 11 === 0))
      checkCommit(t, "DV update")(DeltaLog.update(spark, t,
        col("id") % 13 === 0, Map("s" -> lit("u"))))
    } finally spark.conf.unset(DvKey)
    checkCommit(t, "OPTIMIZE ZORDER")(
      DeltaLog.optimize(spark, t, zorderBy = Seq("v")))
    val expected = DeltaLog.read(spark, t, versionAsOf = Some(overwritten))
      .orderBy("id").collect().toSeq
    checkCommit(t, "RESTORE")(
      DeltaLog.restore(spark, t, versionAsOf = Some(overwritten)))
    assert(DeltaLog.read(spark, t).orderBy("id").collect().toSeq === expected)
  }

  test("a MERGE that deletes every match adds no 0-row file") {
    // unpartitioned: an empty partitioned write stages no part at all,
    // an unpartitioned one stages one empty part
    val t = tmp()
    DeltaLog.write(spark, rows(1 to 30, "w"), t)
    val v = DeltaLog.mergeFlexible(spark, t, rows(1 to 3, "g"), Seq("id"),
      matched = Seq(
        MergeSpec.Matched(Some(col("id") < 100), delete = true),
        MergeSpec.Matched(None, delete = false,
          Seq("s" -> col(MergeSpec.SrcPrefix + "s")))),
      notMatched = Nil)
    val acts = actions(t, v)
    assert(acts.exists(_.has("remove")))
    acts.flatMap(n => Option(n.get("add"))).foreach(a =>
      assert(numRecords(a) > 0L, s"0-row add ${a.get("path").asText()}"))
    assert(DeltaLog.read(spark, t).count() === 27L)
  }

  test("MERGE and OPTIMIZE commit the same per-file stats on both legs of the footer gate") {
    def run(gate: Option[String]): Seq[Seq[(String, String)]] = {
      val t = tmp()
      gate.foreach(spark.conf.set(GateKey, _))
      try {
        DeltaLog.write(spark, rows(1 to 40, "w").repartition(4, col("id")), t,
          partitionBy = Seq("p"))
        DeltaLog.write(spark, rows(41 to 60, "x").repartition(2, col("id")), t)
        val vm = DeltaLog.merge(spark, t,
          rows(35 to 50, "m").repartition(2, col("id")), Seq("id"))
        val vo = DeltaLog.optimize(spark, t, zorderBy = Seq("v"))
        Seq(vm, vo).map(v => actions(t, v).flatMap(n => Option(n.get("add")))
          .map(a => (a.get("partitionValues").toString, a.get("stats").asText()))
          .sorted)
      } finally spark.conf.unset(GateKey)
    }
    val driver = run(None)
    val executors = run(Some("0"))
    assert(driver.forall(_.nonEmpty))
    assert(executors === driver)
  }

  test("OPTIMIZE adopts no file for a partition whose rows are all DV-deleted") {
    val t = tmp()
    DeltaLog.write(spark, rows(1 to 30, "w"), t, partitionBy = Seq("p"))
    DeltaLog.write(spark, rows(31 to 60, "x"), t)
    spark.conf.set(DvKey, "true")
    try DeltaLog.delete(spark, t, col("p") === "b")
    finally spark.conf.unset(DvKey)
    val dropped = DeltaLog.snapshot(spark, t).files
      .filter(_.partitionValues("p") == "b")
    assert(dropped.nonEmpty && dropped.forall(_.dv.nonEmpty))
    val v = DeltaLog.optimize(spark, t)
    val acts = actions(t, v)
    val addParts = acts.flatMap(n => Option(n.get("add")))
      .map(_.get("partitionValues").get("p").asText())
    assert(!addParts.contains("b"))
    assert(addParts.toSet === Set("a", "c"))
    assert(acts.flatMap(n => Option(n.get("remove"))).size ===
      DeltaLog.snapshot(spark, t, versionAsOf = Some(v - 1)).files.size)
    assert(DeltaLog.snapshot(spark, t).files.forall(_.partitionValues("p") != "b"))
    assert(DeltaLog.read(spark, t).count() === 40L)
  }
}
