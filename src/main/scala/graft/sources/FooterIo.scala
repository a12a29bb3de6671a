package graft.sources

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.{DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Bounded daemon pool for DRIVER-side parquet-footer ranged I/O at
  * commit staging (both table formats). A dedicated pool keeps the
  * blocking Hadoop reads off `ExecutionContext.global` (which other
  * users of the JVM share), and awaiting each file individually means
  * a slow/broken store surfaces as THAT file's own I/O exception —
  * never a blanket timeout that aborts the commit after data files
  * were already renamed into the table directory.
  *
  * Also the one place graft opens parquet footers and record readers
  * on its own (outside Spark's scans), always with the caller's Hadoop
  * conf. */
private[sources] object FooterIo {
  private val poolSize =
    math.min(16, math.max(2, Runtime.getRuntime.availableProcessors()))
  private lazy val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(poolSize, new ThreadFactory {
        private val n = new AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-io-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }))

  /** Map `f` over `items` concurrently on the bounded pool, preserving
    * order; falls back to a plain sequential loop if the pool rejects
    * work (shutdown). Exceptions from `f` propagate per-item. */
  def mapAll[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.sizeIs <= 1) return items.map(f)
    val futs =
      try items.map(a => Future(blocking(f(a)))(ec))
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          return items.map(f)
      }
    futs.map(Await.result(_, Duration.Inf))
  }

  /** `f` over `p`'s parquet footer, opened with read options built from
    * `conf`. `ParquetFileReader.open(InputFile)` alone builds them over
    * a fresh `Configuration`: Hadoop re-parses its XML defaults once per
    * file, and the caller's `parquet.*` settings (a crypto factory
    * included) are silently ignored. */
  def withFooter[A](conf: Configuration, p: Path)(f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())
    try f(r) finally r.close()
  }

  /** One top-level column's statistics summed over a file's row
    * groups: min/max (numeric leaves only), null count, and whether
    * the column is floating point. */
  final case class ColumnStats(min: Option[BigDecimal], max: Option[BigDecimal],
                               nulls: Long, isFloating: Boolean)

  /** Per-column min/max/null aggregation over a footer's row groups,
    * the kernel both table formats format their file stats from (Delta
    * stats JSON, Iceberg `FileStats`). Top-level int32/int64/float/
    * double leaves carry bounds; a column any row group leaves without
    * statistics (or with a non-numeric type) is omitted. Columns come
    * in footer order. */
  def columnStats(blocks: Seq[BlockMetaData]): Seq[(String, ColumnStats)] = {
    final class Agg {
      var min: Option[BigDecimal] = None
      var max: Option[BigDecimal] = None
      var nulls = 0L
      var isFloating = false
      var ok = true
    }
    val aggs = scala.collection.mutable.LinkedHashMap[String, Agg]()
    blocks.foreach(_.getColumns.asScala.foreach { cc =>
      val path = cc.getPath.toArray
      if (path.length == 1) {
        val a = aggs.getOrElseUpdate(path(0), new Agg)
        val st = cc.getStatistics
        if (st == null || st.isEmpty || st.getNumNulls < 0) a.ok = false
        else {
          a.nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            val mnmx: Option[(BigDecimal, BigDecimal)] = st match {
              case s: IntStatistics => Some((BigDecimal(s.getMin), BigDecimal(s.getMax)))
              case s: LongStatistics => Some((BigDecimal(s.getMin), BigDecimal(s.getMax)))
              case s: FloatStatistics =>
                a.isFloating = true
                Some((BigDecimal(s.getMin.toDouble), BigDecimal(s.getMax.toDouble)))
              case s: DoubleStatistics =>
                a.isFloating = true
                Some((BigDecimal(s.getMin), BigDecimal(s.getMax)))
              case _ => a.ok = false; None
            }
            mnmx.foreach { case (mn, mx) =>
              a.min = Some(a.min.fold(mn)(_.min(mn)))
              a.max = Some(a.max.fold(mx)(_.max(mx)))
            }
          }
        }
      }
    })
    aggs.toSeq.collect { case (n, a) if a.ok =>
      n -> ColumnStats(a.min, a.max, a.nulls, a.isFloating) }
  }

  /** A record reader over `p` built from `conf` up front:
    * `ParquetReader.builder(readSupport, path)` builds its options over
    * a fresh `Configuration` before `withConf` replaces them. */
  def reader[T](conf: Configuration, p: Path, rs: ReadSupport[T]): ParquetReader[T] =
    new ParquetReader.Builder[T](HadoopInputFile.fromPath(p, conf),
      new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport: ReadSupport[T] = rs
    }.build()
}
