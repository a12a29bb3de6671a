package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Exclusive-create of a fully-written small file — the COMMIT
  * primitive behind both graft table formats' optimistic CAS
  * (Delta's `<v>.json`, Iceberg's `v<N>.metadata.json`).
  *
  * Local filesystems need NIO `CREATE_NEW` (O_EXCL): Hadoop's
  * ChecksumFileSystem.create(path, overwrite = false) is
  * CHECK-THEN-CREATE — two racing writers can both pass the existence
  * check, both "win" the version, and the loser silently truncates
  * the winner's committed bytes. HDFS-like filesystems enforce
  * exclusivity in the namenode, where create(overwrite = false) is an
  * atomic metadata operation.
  *
  * Returns false when the path was already claimed by another writer
  * (the caller classifies the conflict and rebase-retries). */
private[sources] object AtomicCas {
  def createExclusive(fs: FileSystem, p: Path,
                      payload: Array[Byte]): Boolean = {
    // decide by the FILESYSTEM serving the path, never the raw Path's
    // scheme: a scheme-less path on a cluster whose defaultFS is
    // HDFS-like must go to the namenode, not the driver's local disk
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(
        fs.makeQualified(p).toUri.getPath)
      Option(nio.getParent)
        .foreach(d => java.nio.file.Files.createDirectories(d))
      try {
        java.nio.file.Files.write(nio, payload,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = fs.create(p, false) // namenode-atomic exclusive create
        try out.write(payload) finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          if (fs.exists(p)) false else throw e
      }
    }
  }
}
