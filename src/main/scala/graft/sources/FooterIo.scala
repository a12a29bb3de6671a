package graft.sources

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
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

  /** A record reader over `p` built from `conf` up front:
    * `ParquetReader.builder(readSupport, path)` builds its options over
    * a fresh `Configuration` before `withConf` replaces them. */
  def reader[T](conf: Configuration, p: Path, rs: ReadSupport[T]): ParquetReader[T] =
    new ParquetReader.Builder[T](HadoopInputFile.fromPath(p, conf),
      new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport: ReadSupport[T] = rs
    }.build()
}
