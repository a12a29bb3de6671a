package graft.sources

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The shared Iceberg commit path: every snapshot-creating command
  * encodes its snapshot through one encoder and carries the base's
  * manifests through one carry, so each commit obeys the same rules —
  * the sequence number goes up by one, `parent-snapshot-id` names the
  * base head, the snapshot-log (unless the commit is branch- or
  * WAP-staged) ends at the new snapshot, fresh `first_row_id` ranges
  * are contiguous up to `next-row-id`, and an early-v1 inline
  * `manifests` base keeps its rows. */
class IcebergCommitPathSpec extends graft.SparkSpec {
  import spark.implicits._

  private val M = new ObjectMapper()
  private type Row4 = (Int, String, Long, String)

  private def tmp(): String =
    Files.createTempDirectory("graft-ice-commit").toString + "/t"

  private def rows(ids: Range, tag: String): Seq[Row4] =
    ids.map(i => (i, Seq("a", "b", "c")(i % 3), i.toLong * 10, s"$tag$i"))

  private def frame(rs: Seq[Row4]): DataFrame = rs.toDF("id", "p", "v", "s")

  private def meta(t: String): JsonNode = {
    val p = IcebergTable.latestMetadataFile(spark, t)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try M.readTree(in) finally in.close()
  }

  private def long(n: JsonNode, k: String): Option[Long] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asLong())

  private def read(t: String, at: Option[Long] = None): Set[Row4] =
    IcebergTable.read(spark, t, snapshotIdAsOf = at)
      .select("id", "p", "v", "s").as[Row4].collect().toSet

  /** Runs `cmd`, which must create one snapshot on top of `base` (the
    * current snapshot, or a branch head), and checks the snapshot's
    * entry, the table's counters and the rows it holds. */
  private def checkCommit(t: String, what: String, expect: Set[Row4],
                          branch: Option[String] = None,
                          current: Boolean = true)(cmd: => Long): Long = {
    val before: Option[JsonNode] =
      if (new java.io.File(t, "metadata").exists()) Some(meta(t)) else None
    def prior(k: String): Option[Long] = before.flatMap(long(_, k))
    val head = branch match {
      case Some(b) => long(before.get.get("refs").get(b), "snapshot-id")
      case None => prior("current-snapshot-id").filter(_ != -1L)
    }
    val id = cmd
    assert(read(t, Some(id)) === expect, s"$what rows")
    if (current) assert(read(t) === expect)
    val after = meta(t)
    val sn = after.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == id)
      .getOrElse(fail(s"$what created no snapshot"))
    val seq = prior("last-sequence-number").getOrElse(0L) + 1
    assert(long(sn, "sequence-number") === Some(seq), s"$what sequence number")
    assert(long(after, "last-sequence-number") === Some(seq))
    assert(long(sn, "parent-snapshot-id") === head, s"$what parent")
    val log = after.get("snapshot-log").elements().asScala.toSeq
      .map(_.get("snapshot-id").asLong())
    val logBefore = before.flatMap(b => Option(b.get("snapshot-log"))).toSeq
      .flatMap(_.elements().asScala).map(_.get("snapshot-id").asLong())
    if (current) {
      assert(log === logBefore :+ id, s"$what snapshot-log")
      assert(long(after, "current-snapshot-id") === Some(id))
    } else {
      assert(log === logBefore, s"$what snapshot-log")
      assert(long(after, "current-snapshot-id") === prior("current-snapshot-id"))
    }
    // fresh row ids: the files this snapshot added with a first_row_id
    // cover [first-row-id, next-row-id) without gap or overlap; a
    // commit that claims no ids (maintenance) leaves the counter. Every
    // v3 snapshot names its first-row-id and added-rows.
    prior("next-row-id").foreach { next0 =>
      assert(long(sn, "first-row-id") === Some(next0), s"$what first-row-id")
      val fresh = IcebergTable.snapshot(spark, t, snapshotIdAsOf = Some(id))
        .files.filter(f => f.addedSnapshotId == id && f.firstRowId.isDefined)
        .sortBy(_.firstRowId.get)
      val end = fresh.foldLeft(next0) { (next, f) =>
        assert(f.firstRowId === Some(next), s"$what row-id ranges")
        next + f.records
      }
      assert(long(after, "next-row-id") === Some(end), s"$what next-row-id")
      assert(long(sn, "added-rows") === Some(end - next0), s"$what added-rows")
    }
    id
  }

  test("every snapshot-creating command advances the sequence, names its parent and keeps row ids contiguous") {
    val t = tmp()
    var model: Map[Int, Row4] = Map.empty
    def put(rs: Seq[Row4]): Set[Row4] = {
      model = model ++ rs.map(r => r._1 -> r); model.values.toSet
    }
    def drop(p: Int => Boolean): Set[Row4] = {
      model = model.filterNot(kv => p(kv._1)); model.values.toSet
    }
    def upd(p: Int => Boolean, f: Row4 => Row4): Set[Row4] = {
      model = model.map { case (k, r) => k -> (if (p(k)) f(r) else r) }
      model.values.toSet
    }
    val part = Seq("p")

    checkCommit(t, "create", put(rows(1 to 30, "w")))(
      IcebergTable.write(spark, frame(rows(1 to 30, "w")), t, partitionBy = part))
    IcebergTable.upgradeFormatVersion(spark, t, 3)
    checkCommit(t, "append", put(rows(31 to 45, "a")))(
      IcebergTable.write(spark, frame(rows(31 to 45, "a")), t, partitionBy = part))
    model = Map.empty
    checkCommit(t, "overwrite", put(rows(1 to 60, "o")))(
      IcebergTable.write(spark, frame(rows(1 to 60, "o")), t,
        overwrite = true, partitionBy = part))
    checkCommit(t, "DV delete", drop(_ % 7 == 0))(
      IcebergTable.delete(spark, t, col("id") % 7 === 0))
    checkCommit(t, "update", upd(_ % 5 == 0, r => r.copy(_3 = r._3 + 1)))(
      IcebergTable.update(spark, t, col("id") % 5 === 0,
        Map("v" -> (col("v") + 1))))
    checkCommit(t, "merge", put(rows(55 to 70, "m")))(
      IcebergTable.merge(spark, t, frame(rows(55 to 70, "m")), Seq("id")))
    // matched ids divisible by 4 go, other matches take the source's
    // s, unmatched source rows insert
    val flex = {
      val base = model
      rows(1 to 12, "f").foreach { r =>
        base.get(r._1) match {
          case Some(_) if r._1 % 4 == 0 => model -= r._1
          case Some(old) => model += r._1 -> old.copy(_4 = r._4)
          case None => model += r._1 -> r
        }
      }
      model.values.toSet
    }
    checkCommit(t, "mergeFlexible", flex)(
      IcebergTable.mergeFlexible(spark, t, frame(rows(1 to 12, "f")), Seq("id"),
        matched = Seq(
          MergeSpec.Matched(Some(col("id") % 4 === 0), delete = true),
          MergeSpec.Matched(None, delete = false,
            Seq("s" -> col(MergeSpec.SrcPrefix + "s")))),
        notMatched = Seq(MergeSpec.NotMatched(None))))
    checkCommit(t, "upsertEquality", put(rows(20 to 24, "u")))(
      IcebergTable.upsertEquality(spark, t, frame(rows(20 to 24, "u")), Seq("id")))
    spark.conf.set("spark.graft.mor.maxDeleteRows", "0")
    try checkCommit(t, "COW delete", drop(_ % 9 == 0))(
      IcebergTable.delete(spark, t, col("id") % 9 === 0))
    finally spark.conf.unset("spark.graft.mor.maxDeleteRows")
    checkCommit(t, "rewriteDataFiles", model.values.toSet)(
      IcebergTable.rewriteDataFiles(spark, t))
    checkCommit(t, "append", put(rows(71 to 80, "b")))(
      IcebergTable.write(spark, frame(rows(71 to 80, "b")), t, partitionBy = part))
    checkCommit(t, "rewriteManifests", model.values.toSet)(
      IcebergTable.rewriteManifests(spark, t))
    val main = model.values.toSet
    IcebergTable.createBranch(spark, t, "dev",
      IcebergTable.snapshot(spark, t).snapshotId)
    checkCommit(t, "branch write", main ++ rows(81 to 85, "br"),
      branch = Some("dev"), current = false)(
      IcebergTable.write(spark, frame(rows(81 to 85, "br")), t,
        partitionBy = part, toBranch = Some("dev")))
    IcebergTable.setProperties(spark, t, Map("write.wap.enabled" -> "true"))
    spark.conf.set("spark.wap.id", "audit-1")
    try checkCommit(t, "WAP write", main ++ rows(86 to 90, "wap"),
      current = false)(
      IcebergTable.write(spark, frame(rows(86 to 90, "wap")), t,
        partitionBy = part))
    finally spark.conf.unset("spark.wap.id")
    assert(read(t) === main)

    // v2 position-delete compaction
    val t2 = tmp()
    IcebergTable.write(spark, frame(rows(1 to 60, "w")), t2)
    IcebergTable.delete(spark, t2, col("id") % 11 === 0)
    IcebergTable.delete(spark, t2, col("id") % 13 === 0)
    checkCommit(t2, "rewritePositionDeleteFiles",
      rows(1 to 60, "w").filterNot(r => r._1 % 11 == 0 || r._1 % 13 == 0).toSet)(
      IcebergTable.rewritePositionDeleteFiles(spark, t2))
  }

  /** Rewrite the current snapshot of `t` as an early-v1 snapshot that
    * lists its manifests inline (`manifests`, no `manifest-list`) in
    * a new metadata version. */
  private def inlineManifests(t: String): Unit = {
    val m = meta(t).deepCopy[ObjectNode]()
    val cur = m.get("current-snapshot-id").asLong()
    val sn = m.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == cur).get.asInstanceOf[ObjectNode]
    val listed = IcebergTable.snapshot(spark, t).files.size
    val manifests = {
      val rd = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()
      val p = new Path(sn.get("manifest-list").asText())
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val s = new org.apache.avro.file.DataFileStream(in, rd)
      try s.iterator().asScala.map(_.get("manifest_path").toString).toList
      finally s.close()
    }
    sn.remove("manifest-list")
    val arr = sn.putArray("manifests")
    manifests.foreach(arr.add)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = IcebergTable.latestMetadataFile(spark, t)
    val v = mp.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val out = fs.create(new Path(mp.getParent, s"v${v + 1}.metadata.json"), false)
    try out.write(M.writeValueAsBytes(m)) finally out.close()
    assert(IcebergTable.snapshot(spark, t).files.size === listed)
  }

  test("DML over an inline-manifest base keeps the carried rows") {
    val ten = rows(1 to 10, "w")
    val t = tmp()
    IcebergTable.write(spark, frame(ten), t)
    inlineManifests(t)
    assert(read(t) === ten.toSet)
    checkCommit(t, "MOR delete", ten.filterNot(_._1 == 1).toSet)(
      IcebergTable.delete(spark, t, col("id") === 1))
    assert(read(t).size === 9)

    val t2 = tmp()
    IcebergTable.write(spark, frame(ten), t2)
    inlineManifests(t2)
    val up = rows(1 to 1, "u")
    checkCommit(t2, "upsertEquality", (ten.filterNot(_._1 == 1) ++ up).toSet)(
      IcebergTable.upsertEquality(spark, t2, frame(up), Seq("id")))
  }
}
