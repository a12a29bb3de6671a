package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.quality.QualityChecks
import graft.sources.{DeltaLog, GraftLocalFileSystem, GraftLocalFs, IcebergTable}

/** graft's fork-free `file:` filesystem ([[GraftLocalFileSystem]],
  * [[GraftLocalFs]]) against Hadoop's stock `LocalFileSystem` /
  * `LocalFs`: same POSIX modes, same rename outcomes, same symlink and
  * missing-path answers — and, over a run of every local write path
  * graft has, no process started from `org.apache.hadoop.util.Shell`. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** A fresh (uncached) FileSystem per flavor. */
  private def fileSystems: Seq[(String, FileSystem)] =
    Seq("stock" -> new LocalFileSystem(), "graft" -> new GraftLocalFileSystem())
      .map { case (n, fs) => fs.initialize(URI.create("file:///"), new Configuration()); n -> fs }

  /** A FileContext per flavor: AbstractFileSystems are not cached. */
  private def fileContexts: Seq[(String, FileContext)] =
    Seq("stock" -> "org.apache.hadoop.fs.local.LocalFs",
      "graft" -> classOf[GraftLocalFs].getName).map { case (n, impl) =>
      val c = new Configuration()
      c.set("fs.AbstractFileSystem.file.impl", impl)
      n -> FileContext.getFileContext(URI.create("file:///"), c)
    }

  test("FileSystem and FileContext create files and directories with stock POSIX modes") {
    val modes = fileSystems.map { case (n, fs) =>
      val d = tmp(s"lfs-mode-$n")
      fs.create(new Path(s"$d/f")).close()
      fs.mkdirs(new Path(s"$d/a/b"))
      fs.mkdirs(new Path(s"$d/m"), new FsPermission("700"))
      fs.create(new Path(s"$d/g")).close()
      fs.setPermission(new Path(s"$d/g"), new FsPermission("640"))
      fs.mkdirs(new Path(s"$d/s"))
      fs.setPermission(new Path(s"$d/s"), new FsPermission("1777")) // sticky: Hadoop's own path
      n -> Seq("f", ".f.crc", "a", "a/b", "m", "g", "s").map(r => r -> mode(s"$d/$r"))
    }.toMap
    assert(modes("graft") === modes("stock"))
    assert(modes("graft").toMap.apply("g") === "rw-r-----")
    assert(modes("graft").toMap.apply("m") === "rwx------")

    val fcModes = fileContexts.map { case (n, fc) =>
      val d = tmp(s"lfs-fcmode-$n")
      fc.create(new Path(s"$d/f"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        .close()
      fc.mkdir(new Path(s"$d/x/y"), FsPermission.getDirDefault, true)
      n -> Seq("f", ".f.crc", "x", "x/y").map(r => r -> mode(s"$d/$r"))
    }.toMap
    assert(fcModes("graft") === fcModes("stock"))
  }

  test("FileContext.rename behaves like stock for NONE and OVERWRITE, onto existing and missing targets") {
    def outcome(fc: FileContext, opt: Options.Rename, dstExists: Boolean): (String, Seq[(String, String)]) = {
      val d = tmp("lfs-rename")
      def put(name: String, body: String): Unit = {
        val o = fc.create(new Path(s"$d/$name"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        o.write(body.getBytes("UTF-8"))
        o.close()
      }
      put("src", "source")
      if (dstExists) put("dst", "target")
      val r = Try(fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), opt))
        .fold(e => e.getClass.getName, _ => "ok")
      val files = new java.io.File(d).listFiles().toSeq.sortBy(_.getName)
        .map(f => f.getName -> Files.readAllBytes(f.toPath).length.toString)
      val body = Try(new String(Files.readAllBytes(Paths.get(s"$d/dst")), "UTF-8")).getOrElse("-")
      (r, files :+ ("dst-body" -> body))
    }
    for (opt <- Seq(Options.Rename.NONE, Options.Rename.OVERWRITE); dstExists <- Seq(true, false)) {
      val byImpl = fileContexts.map { case (n, fc) => n -> outcome(fc, opt, dstExists) }.toMap
      assert(byImpl("graft") === byImpl("stock"), s"$opt dstExists=$dstExists")
    }
    // the cases themselves: NONE refuses an existing target, OVERWRITE replaces it
    val g = fileContexts.toMap.apply("graft")
    assert(outcome(g, Options.Rename.NONE, dstExists = true)._1 ===
      classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName)
    assert(outcome(g, Options.Rename.OVERWRITE, dstExists = true)._2.last === ("dst-body" -> "source"))
  }

  test("a real symlink still reports isSymlink with a qualified target; a missing path throws FileNotFoundException") {
    val d = tmp("lfs-link")
    Files.writeString(Paths.get(s"$d/target"), "x")
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/target"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/nowhere"))
    val link = new Path(s"$d/link")
    val byImpl = fileSystems.map { case (n, fs) =>
      val st = fs.getFileLinkStatus(link)
      val dangling = fs.getFileLinkStatus(new Path(s"$d/dangling"))
      val plain = fs.getFileLinkStatus(new Path(s"$d/target"))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$d/missing")))
      n -> Seq(st.isSymlink, st.getSymlink.toString, dangling.isSymlink,
        dangling.getSymlink.toString, plain.isSymlink, plain.getLen)
    }.toMap
    assert(byImpl("graft") === byImpl("stock"))
    assert(byImpl("graft").take(2) === Seq(true, s"file:$d/target"))

    val fcByImpl = fileContexts.map { case (n, fc) =>
      val st = fc.getFileLinkStatus(link)
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$d/missing")))
      intercept[FileNotFoundException](fc.getFileStatus(new Path(s"$d/missing")))
      n -> Seq(st.isSymlink, st.getSymlink.toString)
    }.toMap
    assert(fcByImpl("graft") === fcByImpl("stock"))
    assert(fcByImpl("graft").head === true)
  }

  test("file: resolves to graft's classes through the session's Hadoop conf, and no write path forks a process") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path("file:///")
    assert(FileSystem.get(root.toUri, conf).getClass === classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(root.toUri, conf).getDefaultFileSystem.getClass ===
      classOf[GraftLocalFs])

    // Shell's class init probes `setsid` once; keep that out of the recording
    Class.forName("org.apache.hadoop.util.Shell")
    val d = tmp("lfs-nofork")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // graft-delta Trigger.AvailableNow stream with a checkpoint
      val src = s"$d/src"
      DeltaLog.write(spark, Seq((1L, "a", 3), (2L, "b", 1)).toDF("k", "v", "n"), src)
      DeltaLog.write(spark, Seq((3L, "c", 2)).toDF("k", "v", "n"), src)
      spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(s"$d/dst")
        .awaitTermination(120000)
      // a partitioned parquet write, as DQ routing does
      QualityChecks.routeViolations(DeltaLog.read(spark, s"$d/dst"),
        Seq("small" -> (col("n") < 2)), s"$d/quality")
      // an Iceberg append
      IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$d/ice")
      IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), s"$d/ice")
      // OPTIMIZE ZORDER
      DeltaLog.optimize(spark, s"$d/dst", zorderBy = Seq("k", "n"))
    } finally rec.stop()
    val jfr = Files.createTempFile("lfs-nofork", ".jfr")
    rec.dump(jfr)
    rec.close()
    val events = RecordingFile.readAllEvents(jfr).asScala.toSeq
    Files.delete(jfr)
    val fromShell = events.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(fromShell.isEmpty, fromShell.map(_.getString("command")).mkString("; "))

    assert(DeltaLog.read(spark, s"$d/dst").count() === 3L)
    assert(spark.read.parquet(s"$d/quality").count() === 1L)
    assert(IcebergTable.read(spark, s"$d/ice").count() === 2L)
  }
}
