package graft.sources

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builder encoding graft's scale defaults
  * in one place, so every entrypoint (Verify/Bench/user code) runs
  * with the same, documented knobs.
  *
  * The settings and why they matter at 100 TB:
  *  - AQE on (default in Spark 4) + skew-join splitting: hot keys in
  *    fact joins re-plan into split partitions at runtime.
  *  - `shuffle.partitions` sized to the cluster (pass total cores;
  *    AQE coalesces small partitions back down, so erring high is
  *    safe).
  *  - `files.maxPartitionBytes` 256 MB: fewer, fuller scan tasks for
  *    columnar reads (default 128 MB doubles task count for wide
  *    parquet).
  *  - UTC session timezone: cross-engine-deterministic timestamps.
  *  - `parquet.nanosAsLong`: the events table ships TIMESTAMP(NANOS)
  *    which Spark otherwise refuses to read.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`
  *    ([[withStartupSettings]]): graft's fork-free `file:` filesystem.
  *    Without libhadoop, Hadoop starts one `chmod` process per local
  *    file it creates and 2–4 `readlink`s per `FileContext` rename
  *    (streaming offsets and commits). HDFS and object-store paths are
  *    untouched.
  *  - `sql.artifact.isolation.enabled` off ([[withStartupSettings]]):
  *    every streaming query runs in a `cloneSession()` with a new
  *    session UUID, and with isolation on each UUID gets its own
  *    isolated executor session and `ExecutorClassLoader`. Generated
  *    code is cached per (class loader, code), so each stream run
  *    recompiled all of its executor-side code, and Janino's misses on
  *    absent class names went through that loader (a scan of every jar,
  *    then an RPC to the driver's class server). graft adds no session
  *    artifacts, so isolation buys nothing; turn it back on if graft
  *    ever adds session artifacts (`addArtifact`).
  */
object GraftSession {

  /** `b` with the settings that are read only once, when the session
    * (or the JVM's first `file:` access) is created, so they must be
    * set on the builder:
    *  - the `file:` scheme bound to [[GraftLocalFileSystem]]
    *    (FileSystem API) and [[GraftLocalFs]] (FileContext API, used
    *    by streaming checkpoints). Hadoop caches FileSystem instances
    *    by scheme, not by conf;
    *  - artifact isolation off, so cloned (streaming) sessions share
    *    the executor's class loader and its generated-code cache. */
  def withStartupSettings(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")

  def builder(master: String, cores: Int): SparkSession.Builder =
    withStartupSettings(SparkSession.builder())
      .master(master)
      // graft's Catalyst extensions: SQL functions, opt-in guardrail
      // checks, and the top-k-per-group rewrite + strategy
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-less parquet TIMESTAMP(MICROS) columns read as plain
      // TIMESTAMP (UTC session), not TIMESTAMP_NTZ: the generator
      // writes naive-UTC micros and every time function downstream
      // (unix_millis, window, date_trunc) expects the LTZ type —
      // same values either way under a UTC session, and this keeps
      // one timestamp type across both the nanos and micros shapes
      // of the events table
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // id-mode column mapping: requested schemas carrying
      // parquet.field.id resolve against parquet field ids
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      // executeTake (every take/limit/isEmpty action, incl. the MOR
      // DML cardinality gates) starts at ONE partition by default and
      // escalates 1→4→16… — each round a whole Spark job. One task
      // WAVE as the first round (scale-adaptive: `cores` is the
      // cluster's parallelism) resolves typical takes in a single job
      // and still escalates for pathological ones.
      .config("spark.sql.limit.initialNumPartitions", cores)

  /** Local session for tests/benchmarks on this machine. */
  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
