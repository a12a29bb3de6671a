package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The storage flavor of a table directory: which transaction log
  * serves it. A directory with neither log is a plain parquet
  * directory. [[GraftCatalog]] and the SQL statements
  * ([[GraftSqlStatements]]) both detect it through [[Flavor.of]]. */
sealed trait Flavor
case object DeltaFlavor extends Flavor
case object IcebergFlavor extends Flavor

object Flavor {

  /** The flavor of the table at `dir`, `None` for plain parquet.
    * Delta is checked first: a UniForm Delta table carries Iceberg
    * metadata beside its `_delta_log`, and Delta is its log of
    * record. */
  def of(fs: FileSystem, dir: Path): Option[Flavor] =
    if (fs.exists(new Path(dir, "_delta_log"))) Some(DeltaFlavor)
    else if (fs.globStatus(new Path(new Path(dir, "metadata"),
      "v*.metadata.json")).nonEmpty) Some(IcebergFlavor)
    else None
}
