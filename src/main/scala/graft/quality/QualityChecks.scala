package graft.quality

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StagingWrite

/** Data-quality check framework.
  *
  * Re-expresses the reference's quality suite (reference:
  * data_lakehouse/data_quality_checks/silver_layer_data_quality_checks
  * .py and gold_layer_data_quality_checks.py): each check returns the
  * VIOLATING rows, so an empty result means the check passes. All
  * checks are narrow filters (predicate-pushdown friendly — at scan
  * time on parquet only the checked columns are read); the orphan
  * check is a broadcast left_anti join.
  */
object QualityChecks {

  /** Basic email-format regex (reference: silver_layer_data_quality_
    * checks.py:104 — same pattern). */
  val EmailRegex = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}$"

  private def anyOf(conds: Seq[Column]): Column =
    conds.reduceOption(_ || _).getOrElse(lit(false))

  // ---- violation predicates (Column forms, shared by the row-level
  // checks and the one-pass summary) ----

  def nullPkCond(pkCols: Seq[String]): Column =
    anyOf(pkCols.map(c => col(c).isNull))

  def unwantedSpacesCond(stringCols: Seq[String]): Column =
    anyOf(stringCols.map(c => length(col(c)) =!= length(trim(col(c)))))

  def invalidDatesCond(dateCols: Seq[String],
                       minDate: String = "1900-01-01",
                       maxDate: String = "2100-01-01"): Column =
    anyOf(dateCols.map { c =>
      val ts = to_timestamp(col(c))
      ts.isNull || ts < to_timestamp(lit(minDate)) || ts > to_timestamp(lit(maxDate))
    })

  def nonPositiveCond(numCols: Seq[String]): Column =
    anyOf(numCols.map(c => col(c) <= 0))

  def invalidFormatCond(column: String, pattern: String = EmailRegex): Column =
    !col(column).rlike(pattern)

  def nonIntegerValuedCond(column: String): Column =
    col(column) % 1 =!= 0

  /** Rows whose primary-key columns contain nulls. */
  def nullPks(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.filter(nullPkCond(pkCols))

  /** Rows with leading/trailing whitespace in any listed string col. */
  def unwantedSpaces(df: DataFrame, stringCols: Seq[String]): DataFrame =
    df.filter(unwantedSpacesCond(stringCols))

  /** Rows with null / out-of-range timestamps (reference bounds
    * 1900-01-01 .. 2100-01-01). */
  def invalidDates(df: DataFrame, dateCols: Seq[String],
                   minDate: String = "1900-01-01",
                   maxDate: String = "2100-01-01"): DataFrame =
    df.filter(invalidDatesCond(dateCols, minDate, maxDate))

  /** Rows with non-positive values in the listed numeric columns. */
  def nonPositive(df: DataFrame, numCols: Seq[String]): DataFrame =
    df.filter(nonPositiveCond(numCols))

  /** Rows whose column fails a regex format (e.g. email). */
  def invalidFormat(df: DataFrame, column: String,
                    pattern: String = EmailRegex): DataFrame =
    df.filter(invalidFormatCond(column, pattern))

  /** Rows whose numeric column is not integer-valued
    * (reference: quantity % 1 != 0). */
  def nonIntegerValued(df: DataFrame, column: String): DataFrame =
    df.filter(nonIntegerValuedCond(column))

  /** Fact rows with no matching dimension row (referential
    * integrity; reference: gold_layer_data_quality_checks.py:95-105).
    * Broadcast anti-join: shuffle-free on the fact side. */
  def orphans(fact: DataFrame, dim: DataFrame,
              factKey: String, dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left_anti")

  /** One-row-per-check violation-count summary — the aggregate the
    * reference prints/persists per entity. Each count is an
    * independent aggregation over a narrow filter; Spark computes
    * them in one pass when unioned. */
  case class CheckSpec(name: String, violations: DataFrame)

  def summary(checks: Seq[CheckSpec]): DataFrame = {
    checks.map { c =>
      c.violations.agg(count(lit(1)).cast("long").as("violation_count"))
        .select(lit(c.name).as("check_name"), col("violation_count"))
    }.reduce(_.unionAll(_))
  }

  /** One-pass column profiling (the stats a DQ triage starts from):
    * per listed column — null count, exact distinct count, min/max
    * (numeric columns only; pass `numeric = false` to skip). One
    * aggregation over one scan; multiple exact distincts expand the
    * scan k-ways map-side (Spark's Expand) but never rescan source.
    * At 100 TB swap `countDistinct` for `approx_count_distinct`. */
  case class ProfileCol(name: String, expr: Column, numeric: Boolean = true)

  def profile(df: DataFrame, cols: Seq[ProfileCol]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(c.expr.isNull, 1L).otherwise(0L)).as(s"__nulls_${c.name}"),
        countDistinct(c.expr).as(s"__dist_${c.name}")) ++
        (if (c.numeric) Seq(
          min(c.expr).cast("double").as(s"__min_${c.name}"),
          max(c.expr).cast("double").as(s"__max_${c.name}"))
        else Nil)
    } :+ count(lit(1)).as("__n")
    val rows = cols.map { c =>
      struct(lit(c.name).as("column_name"), col("__n").as("n_rows"),
        col(s"__nulls_${c.name}").as("n_nulls"),
        col(s"__dist_${c.name}").as("n_distinct"),
        (if (c.numeric) col(s"__min_${c.name}")
        else lit(null).cast("double")).as("min_value"),
        (if (c.numeric) col(s"__max_${c.name}")
        else lit(null).cast("double")).as("max_value"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("p"))
      .select("p.*")
  }

  /** Distribution drift between two snapshots of the same table —
    * the monitoring a training-data pipeline runs between versions
    * before a snapshot is allowed into a run. Per numeric column:
    * mean/std on each side from ONE combinable agg per snapshot
    * (exact decimal sums of x and x², so results are
    * partition-order-independent), a pooled-σ z-score of the mean
    * shift, and a drifted flag at `zThreshold`. Both aggs reduce to
    * one row per snapshot — nothing is joined at data size; at
    * 100 TB each side costs one map-side-combinable scan. Pair with
    * Delta time travel ([[graft.sources.DeltaLog.read]] with
    * `versionAsOf`) to compare committed versions. */
  def driftStats(before: DataFrame, after: DataFrame, cols: Seq[String],
                 zThreshold: Double = 3.0): DataFrame = {
    def moments(df: DataFrame, side: String): DataFrame = {
      val aggs = cols.flatMap { c =>
        val x = col(c).cast("double")
        Seq(count(when(x.isNotNull, 1L)).as(s"__n_${side}_$c"),
          sum(graft.functions.Det.roundTo(x, 6).cast("decimal(38,6)"))
            .cast("double").as(s"__s1_${side}_$c"),
          sum(graft.functions.Det.roundTo(x * x, 6).cast("decimal(38,6)"))
            .cast("double").as(s"__s2_${side}_$c"))
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    val joined = moments(before, "a").crossJoin(moments(after, "b"))
    val rows = cols.map { c =>
      def n(s: String) = col(s"__n_${s}_$c").cast("double")
      def mean(s: String) = col(s"__s1_${s}_$c") / n(s)
      def variance(s: String) =
        (col(s"__s2_${s}_$c") - col(s"__s1_${s}_$c") * mean(s)) /
          greatest(n(s) - 1.0, lit(1.0))
      // pooled standard error of the difference of means
      val se = sqrt(variance("a") / n("a") + variance("b") / n("b"))
      val z = when(se > 0, abs(mean("b") - mean("a")) / se).otherwise(
        when(mean("b") === mean("a"), 0.0).otherwise(Double.PositiveInfinity))
      struct(lit(c).as("column_name"),
        n("a").cast("long").as("n_before"), n("b").cast("long").as("n_after"),
        mean("a").as("mean_before"), mean("b").as("mean_after"),
        z.as("z_shift"), (z > zThreshold).as("drifted"))
    }
    joined.select(explode(array(rows: _*)).as("d")).select("d.*")
  }

  /** One row per (violating source row, violated check): every row is
    * tagged with the names of all checks it fails, then exploded.
    * Rows violating nothing disappear (explode of an empty array) —
    * a single narrow pass, no shuffle. Shared by the batch and
    * streaming routing below. */
  def tagViolations(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val tags = array(checks.map { case (name, cond) =>
      when(coalesce(cond, lit(false)), lit(name))
    }: _*)
    df.withColumn("check_name", explode(array_compact(tags)))
  }

  /** Route violating rows to a persisted quality table, one partition
    * per check (reference: gold_layer_data_quality_checks.py:205-210
    * writes failing rows to a quality schema). partitionBy(check_name)
    * means a per-check audit read prunes to one partition. */
  def routeViolations(df: DataFrame, checks: Seq[(String, Column)],
                      qualityPath: String,
                      mode: SaveMode = SaveMode.Append): Unit = {
    val p = new Path(qualityPath)
    lazy val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val write = mode match {
      case SaveMode.Append => true
      case SaveMode.Overwrite => fs.delete(p, true); true
      case SaveMode.Ignore => !fs.exists(p)
      case SaveMode.ErrorIfExists =>
        require(!fs.exists(p), s"path $qualityPath already exists"); true
    }
    if (write)
      StagingWrite.parquet(tagViolations(df, checks), qualityPath, Seq("check_name"))
  }

  /** Streaming variant: route each micro-batch's violations to the
    * same partitioned quality table via foreachBatch (append — the
    * quality log is an audit trail, replays only add duplicate audit
    * rows, never lose any). */
  def routeViolationsOnce(stream: DataFrame, checks: Seq[(String, Column)],
                          qualityPath: String, checkpoint: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          routeViolations(batch.toDF(), checks, qualityPath)
      }
      .start()
    q.awaitTermination()
  }

  /** Declarative-pipeline expectations (the Delta Live Tables
    * `@expect` / `@expect_or_drop` / `@expect_or_fail` triad): each
    * expectation names a predicate rows SHOULD satisfy and an
    * enforcement level —
    *
    *  - [[Warn]]: violating rows pass through; the violation count
    *    rides the caller's action as an observe metric (no extra
    *    scan);
    *  - [[Drop]]: violating rows are filtered out (strict NULLs —
    *    a NULL predicate is a violation, as everywhere in this
    *    module);
    *  - [[Fail]]: any violating row aborts the pass at action time
    *    (implemented as a runtime assert INSIDE the row pipeline, so
    *    the job fails fast on the first bad row instead of scanning
    *    everything first — batch-atomicity against a committed sink
    *    comes from Delta CHECK constraints
    *    ([[graft.sources.DeltaLog.addCheckConstraint]]), which veto a
    *    violating write whole before anything commits).
    *
    * Returns the gated frame plus the Observation carrying
    * `warn_<name>` / `drop_<name>` counts for every non-fail
    * expectation. ONE narrow pass, no shuffle. */
  sealed trait Enforcement
  case object Warn extends Enforcement
  case object Drop extends Enforcement
  case object Fail extends Enforcement
  final case class Expectation(name: String, predicate: Column,
                               enforcement: Enforcement = Warn)

  def expect(df: DataFrame, expectations: Seq[Expectation])
  : (DataFrame, org.apache.spark.sql.Observation) = {
    require(expectations.nonEmpty, "expect: no expectations given")
    def holds(e: Expectation): Column = coalesce(e.predicate, lit(false))
    // fail gates first: any violating row aborts the action
    val gated = expectations.filter(_.enforcement == Fail).foldLeft(df) {
      (d, e) =>
        d.where(when(holds(e), true).otherwise(raise_error(concat(
          lit(s"expectation '${e.name}' violated by row: "),
          to_json(struct(col("*")))))))
    }
    // observe BELOW the drop filters: metrics count violations over
    // every surviving-the-fail-gate row, including ones Drop removes
    val obs = org.apache.spark.sql.Observation()
    val metrics = expectations.filterNot(_.enforcement == Fail).map { e =>
      val label = if (e.enforcement == Drop) "drop" else "warn"
      sum(when(holds(e), 0L).otherwise(1L)).as(s"${label}_${e.name}")
    } :+ count(lit(1)).as("n_rows")
    val watched = gated.observe(obs, metrics.head, metrics.tail: _*)
    val out = expectations.filter(_.enforcement == Drop)
      .foldLeft(watched)((d, e) => d.where(holds(e)))
    (out, obs)
  }

  /** Pipeline telemetry WITHOUT an extra scan: attach aggregate
    * metrics (row counts, violation counts, sums) to a pass via
    * `Dataset.observe`; the metrics accumulate during whatever
    * action the caller runs and are read from the Observation
    * afterwards. At 100 TB this is the difference between free
    * monitoring and doubling the pipeline's IO with count() calls. */
  def observed(df: DataFrame, name: String, metrics: (String, Column)*)
  : (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed: at least one metric is required")
    val obs = org.apache.spark.sql.Observation(name)
    val named = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, named.head, named.tail: _*), obs)
  }

  /** Per-entity check configuration — the reference's
    * entity_configs shape (gold_layer_data_quality_checks.py:108-131:
    * pk_cols / string_cols / date_cols / num_cols / extra_checks). */
  case class EntityConfig(pkCols: Seq[String] = Nil,
                          stringCols: Seq[String] = Nil,
                          dateCols: Seq[String] = Nil,
                          numCols: Seq[String] = Nil,
                          emailCol: Option[String] = None,
                          integerCol: Option[String] = None) {
    def checks: Seq[(String, Column)] =
      (if (pkCols.nonEmpty) Seq("null_pk" -> nullPkCond(pkCols)) else Nil) ++
      (if (stringCols.nonEmpty) Seq("unwanted_spaces" -> unwantedSpacesCond(stringCols)) else Nil) ++
      (if (dateCols.nonEmpty) Seq("invalid_dates" -> invalidDatesCond(dateCols)) else Nil) ++
      (if (numCols.nonEmpty) Seq("nonpositive" -> nonPositiveCond(numCols)) else Nil) ++
      emailCol.map(c => "invalid_email" -> invalidFormatCond(c, EmailRegex)).toSeq ++
      integerCol.map(c => "non_integer" -> nonIntegerValuedCond(c)).toSeq
  }

  /** Run an entity's configured check suite in ONE pass: returns the
    * per-check violation-count summary (tagged with the entity), and
    * if `qualityPath` is given, appends every violating row to the
    * check-partitioned quality table with the entity recorded —
    * the reference's run_gold_quality_checks loop
    * (gold_layer_data_quality_checks.py:140-210) as a library call. */
  def runEntityChecks(df: DataFrame, entity: String, cfg: EntityConfig,
                      qualityPath: Option[String] = None): DataFrame = {
    qualityPath.foreach(p =>
      routeViolations(df.withColumn("entity", lit(entity)), cfg.checks, p))
    summarizeOnePass(df, cfg.checks)
      .select(lit(entity).as("entity"), col("check_name"),
        col("violation_count"))
  }

  /** One scan, many checks: all violation counts for a table come
    * from a single conditional aggregation — at 100 TB the summary
    * costs one pass over each source instead of one pass PER check. */
  def summarizeOnePass(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val aggs = checks.map { case (name, cond) =>
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(name)
    }
    val kv = checks.flatMap { case (name, _) => Seq(lit(name), col(name)) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(kv: _*)).as(Seq("check_name", "violation_count")))
  }
}
