package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.dedup.NearDup
import graft.functions.{DotProductExpr, MinHashSigExpr, ShinglesExpr, SimHashExpr}

/** SparkSessionExtensions hook exposing graft's custom Catalyst
  * expressions as SQL functions:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * then `SELECT graft_simhash(text), graft_minhash_sig(text),
  * graft_dot(a, b) FROM ...`. [[GraftFunctions.register]] does the
  * same on an already-built session (tests, notebooks).
  *
  * Also injects [[GraftGuardrails]] — opt-in analysis-time checks
  * for plan shapes that melt down at cluster scale.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    GraftTableFunctions.descriptions.foreach(ext.injectTableFunction)
    ext.injectCheckRule(GraftGuardrails.check)
    // whole-operator custom-plan path: rewrite
    // `row_number() OVER (PARTITION BY..ORDER BY..) <= k` into the
    // heap-based two-phase top-k operator (see graft.plans.TopKPerGroup)
    ext.injectOptimizerRule(_ => graft.plans.RewriteTopKPerGroup)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // EXCEPT ALL / INTERSECT ALL over a dropDuplicates frame: replace
    // the dedup before Spark's optimizer loses a column id under it
    ext.injectPlanNormalizationRule(_ => graft.plans.DedupBeforeExceptAll)
    // maintenance statements Spark's grammar lacks (OPTIMIZE/VACUUM,
    // the reference's literal gold-layer calls) + row-level SQL DML
    // (UPDATE / MERGE INTO) routed to the copy-on-write Delta library
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.sources.GraftRowLevelSql)
  }
}

/** Analysis-time scale guardrails, injected as a check rule.
  *
  * `spark.graft.failOnGlobalWindow=true` turns a partition-less
  * window (`row_number() OVER (ORDER BY ...)` with no PARTITION BY —
  * Spark funnels the WHOLE input through one task) from a silent
  * scale cliff into an immediate AnalysisException naming the fix
  * ([[graft.operators.Ranks]]). Off by default: ad-hoc small-data
  * sessions are legitimate.
  */
object GraftGuardrails {
  def check(session: org.apache.spark.sql.SparkSession)
  : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Unit = plan => {
    if (session.conf.get("spark.graft.failOnGlobalWindow", null) == "true") {
      plan.foreach {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty =>
          throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION",
            Map("errorMessage" ->
              ("partition-less window moves ALL rows through one task " +
                "(graft guardrail: spark.graft.failOnGlobalWindow). " +
                "Partition the window, or use graft.operators.Ranks for " +
                "exact global ranks/order statistics.")), None)
        case _ =>
      }
    }
  }
}

object GraftFunctions {
  type Description =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val descriptions: Seq[Description] = Seq(
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHashExpr(args.head)),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => MinHashSigExpr(args.head, 3, NearDup.coeffs)),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))),
    (FunctionIdentifier("graft_normalize_text"),
      new ExpressionInfo(classOf[graft.functions.NormalizeTextExpr].getName,
        "graft_normalize_text"),
      (args: Seq[Expression]) =>
        graft.functions.NormalizeTextExpr(args.head)),
    (FunctionIdentifier("graft_minhash_merge"),
      new ExpressionInfo(classOf[graft.functions.MinHashMergeAgg].getName,
        "graft_minhash_merge"),
      // AGGREGATE: elementwise-min merge of MinHash signatures
      (args: Seq[Expression]) =>
        graft.functions.MinHashMergeAgg(args.head, NearDup.NumHashes)),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      // graft_shingles(text[, n[, distinct]]) — n and distinct must be
      // foldable literals (they parameterize the expression itself)
      (args: Seq[Expression]) => {
        val n = if (args.length > 1) intLiteral(args(1), "graft_shingles", "n") else 3
        val distinct = args.length > 2 &&
          (foldableValue(args(2), "graft_shingles", "distinct") == true)
        ShinglesExpr(args.head, n, distinct)
      }))

  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg), None)

  private def foldableValue(e: Expression, fn: String, param: String): Any = {
    if (!e.foldable)
      analysisError(s"$fn: parameter '$param' must be a literal, got ${e.sql}")
    e.eval()
  }

  /** Int parameter from any integral literal (INT/BIGINT/SMALLINT/
    * TINYINT or a CAST of one) — a BIGINT literal like `3L` must not
    * surface as an opaque ClassCastException. */
  private def intLiteral(e: Expression, fn: String, param: String): Int =
    foldableValue(e, fn, param) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => analysisError(
        s"$fn: parameter '$param' must be an integer literal, got $other (${e.sql})")
    }

  /** Register on a live session (equivalent to the extension). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    descriptions.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerFunction(spark, ident, info, builder)
    }
    GraftTableFunctions.register(spark)
  }
}

/** SQL TABLE functions over the operator library — the notebook-SQL
  * entry points the reference's audience expects (its users never
  * leave `spark.sql`). Each TVF takes a TABLE OR VIEW NAME plus
  * literal parameters and returns the operator's result relation:
  *
  * {{{
  * SELECT * FROM graft_minhash_pairs('docs', 'doc_id', 'text', 3, 0.5)
  * SELECT * FROM graft_dedup('docs', 'doc_id', 'text', 6)
  * SELECT * FROM graft_ann_topk('corpus', 'queries', 5)
  * SELECT * FROM graft_curate('docs', 'holdout')
  * SELECT * FROM graft_delta('/lake/t', 2)     -- VERSION AS OF 2
  * SELECT * FROM graft_iceberg('/lake/i')      -- current snapshot
  * }}}
  *
  * The builder resolves the named relation through the ACTIVE
  * session's catalog at analysis time and splices the operator's
  * full logical plan in as the TVF result — so Catalyst optimizes
  * the operator pipeline and the outer query as ONE plan (filters
  * the user writes above the TVF push into the operator's scans
  * where semantics allow). Mutating the plan is out of scope: these
  * are pure table-valued FUNCTIONS.
  */
object GraftTableFunctions {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.SparkSession

  type TableDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg), None)

  private def strLit(args: Seq[Expression], i: Int, fn: String,
                     param: String): String = {
    if (args.length <= i)
      analysisError(s"$fn: missing required parameter '$param'")
    val e = args(i)
    if (!e.foldable) analysisError(
      s"$fn: parameter '$param' must be a string literal, got ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => analysisError(
        s"$fn: parameter '$param' must be a string literal, got $other")
    }
  }

  private def intLit(args: Seq[Expression], i: Int, default: Int,
                     fn: String, param: String): Int =
    if (args.length <= i) default
    else args(i).eval() match {
      case n: Int => n
      case n: Long if n.isValidInt => n.toInt
      case other => analysisError(
        s"$fn: parameter '$param' must be an integer literal, got $other")
    }

  private def longLitOpt(args: Seq[Expression], i: Int, fn: String,
                         param: String): Option[Long] =
    if (args.length <= i) None
    else args(i).eval() match {
      case n: Int => Some(n.toLong)
      case n: Long => Some(n)
      case other => analysisError(
        s"$fn: parameter '$param' must be an integer literal, got $other")
    }

  private def dblLit(args: Seq[Expression], i: Int, default: Double,
                     fn: String, param: String): Double =
    if (args.length <= i) default
    else args(i).eval() match {
      case d: Double => d
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Int => n.toDouble
      case other => analysisError(
        s"$fn: parameter '$param' must be a numeric literal, got $other")
    }

  private def table(name: String): org.apache.spark.sql.DataFrame =
    SparkSession.active.table(name)

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    org.apache.spark.sql.graftbridge.ColumnBridge.plan(df)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(GraftTableFunctions.getClass.getName, name)

  val descriptions: Seq[TableDescription] = Seq(
    // graft_minhash_pairs(table, idCol, textCol[, shingleSize, threshold])
    (FunctionIdentifier("graft_minhash_pairs"), info("graft_minhash_pairs"),
      (args: Seq[Expression]) => {
        val fn = "graft_minhash_pairs"
        plan(NearDup.minHashPairs(
          table(strLit(args, 0, fn, "table")),
          strLit(args, 1, fn, "idCol"), strLit(args, 2, fn, "textCol"),
          intLit(args, 3, 3, fn, "shingleSize"),
          dblLit(args, 4, 0.5, fn, "threshold")))
      }),
    // graft_dedup(table, idCol, textCol[, maxDist]) — the FULL
    // pipeline: simhash pairs -> connected components -> surviving
    // representatives with absorb counts
    (FunctionIdentifier("graft_dedup"), info("graft_dedup"),
      (args: Seq[Expression]) => {
        val fn = "graft_dedup"
        val docs = table(strLit(args, 0, fn, "table"))
        val idCol = strLit(args, 1, fn, "idCol")
        val textCol = strLit(args, 2, fn, "textCol")
        val edges = NearDup.simHashPairs(docs, idCol, textCol,
          maxDist = intLit(args, 3, 6, fn, "maxDist"))
          .select("id_a", "id_b")
        plan(graft.dedup.Clusters.dedupPipeline(
          docs.select(org.apache.spark.sql.functions.col(idCol)), edges))
      }),
    // graft_ann_topk(corpusTable, queriesTable, k[, nBits, dim,
    //   idCol, vecCol]) — multi-probe LSH cosine top-k
    (FunctionIdentifier("graft_ann_topk"), info("graft_ann_topk"),
      (args: Seq[Expression]) => {
        val fn = "graft_ann_topk"
        plan(graft.similarity.Similarity.lshTopK(
          table(strLit(args, 0, fn, "corpusTable")),
          table(strLit(args, 1, fn, "queriesTable")),
          intLit(args, 2, 5, fn, "k"),
          nBits = intLit(args, 3, 4, fn, "nBits"),
          dim = intLit(args, 4, 64, fn, "dim"),
          idCol = if (args.length > 5) strLit(args, 5, fn, "idCol") else "vec_id",
          vecCol = if (args.length > 6) strLit(args, 6, fn, "vecCol") else "embedding"))
      }),
    // graft_curate(docsTable, holdoutTable[, idCol, textCol]) — the
    // full curation pipeline (gates -> dedup -> decontaminate ->
    // split + token counts)
    (FunctionIdentifier("graft_curate"), info("graft_curate"),
      (args: Seq[Expression]) => {
        val fn = "graft_curate"
        plan(graft.text.Curation.curate(
          table(strLit(args, 0, fn, "docsTable")),
          table(strLit(args, 1, fn, "holdoutTable")),
          idCol = if (args.length > 2) strLit(args, 2, fn, "idCol") else "doc_id",
          textCol = if (args.length > 3) strLit(args, 3, fn, "textCol") else "text"))
      }),
    // graft_delta(path[, versionAsOf]) — read a REAL Delta table via
    // the native transaction-log replay, no catalog config needed
    (FunctionIdentifier("graft_delta"), info("graft_delta"),
      (args: Seq[Expression]) => {
        val fn = "graft_delta"
        plan(graft.sources.DeltaLog.read(SparkSession.active,
          strLit(args, 0, fn, "path"),
          versionAsOf = longLitOpt(args, 1, fn, "versionAsOf")))
      }),
    // graft_iceberg(path[, snapshotIdAsOf]) — read a REAL Iceberg
    // table via the native metadata/manifest resolution
    (FunctionIdentifier("graft_iceberg"), info("graft_iceberg"),
      (args: Seq[Expression]) => {
        val fn = "graft_iceberg"
        plan(graft.sources.IcebergTable.read(SparkSession.active,
          strLit(args, 0, fn, "path"),
          snapshotIdAsOf = longLitOpt(args, 1, fn, "snapshotIdAsOf")))
      }),
    // graft_fuzzy_pairs(table, idCol, strCol[, maxDist]) — exact
    // edit-distance self-join via PassJoin segment blocking
    (FunctionIdentifier("graft_fuzzy_pairs"), info("graft_fuzzy_pairs"),
      (args: Seq[Expression]) => {
        val fn = "graft_fuzzy_pairs"
        plan(NearDup.editDistancePairs(
          table(strLit(args, 0, fn, "table")),
          strLit(args, 1, fn, "idCol"), strLit(args, 2, fn, "strCol"),
          maxDist = intLit(args, 3, 1, fn, "maxDist")))
      }),
    // graft_delta_changes(path, fromVersion, toVersion) — the
    // incremental CDC row feed over a real _delta_log
    (FunctionIdentifier("graft_delta_changes"), info("graft_delta_changes"),
      (args: Seq[Expression]) => {
        val fn = "graft_delta_changes"
        plan(graft.sources.DeltaLog.changes(SparkSession.active,
          strLit(args, 0, fn, "path"),
          longLitOpt(args, 1, fn, "fromVersion").getOrElse(
            analysisError(s"$fn: missing required parameter 'fromVersion'")),
          longLitOpt(args, 2, fn, "toVersion").getOrElse(
            analysisError(s"$fn: missing required parameter 'toVersion'"))))
      }),
    // graft_iceberg_changes(path, fromSnapshotId, toSnapshotId)
    (FunctionIdentifier("graft_iceberg_changes"), info("graft_iceberg_changes"),
      (args: Seq[Expression]) => {
        val fn = "graft_iceberg_changes"
        plan(graft.sources.IcebergTable.changes(SparkSession.active,
          strLit(args, 0, fn, "path"),
          longLitOpt(args, 1, fn, "fromSnapshotId").getOrElse(
            analysisError(s"$fn: missing required parameter 'fromSnapshotId'")),
          longLitOpt(args, 2, fn, "toSnapshotId").getOrElse(
            analysisError(s"$fn: missing required parameter 'toSnapshotId'"))))
      }),
    // graft_warc(pathGlob[, type]) — WARC/WET records (the Common
    // Crawl containers), one row per record, streamed per file
    (FunctionIdentifier("graft_warc"), info("graft_warc"),
      (args: Seq[Expression]) => {
        val fn = "graft_warc"
        plan(graft.sources.WarcFiles.read(SparkSession.active,
          strLit(args, 0, fn, "pathGlob"),
          types =
            if (args.length > 1) Seq(strLit(args, 1, fn, "type")) else Nil))
      }),
    // graft_warc_text(pathGlob) — extracted (uri, date, text) rows
    // the curation/dedup pipeline consumes
    (FunctionIdentifier("graft_warc_text"), info("graft_warc_text"),
      (args: Seq[Expression]) => {
        val fn = "graft_warc_text"
        plan(graft.sources.WarcFiles.readText(SparkSession.active,
          strLit(args, 0, fn, "pathGlob")))
      }))

  /** Register on a live session (equivalent to the extension). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptions.foreach { case (ident, fnInfo, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerTableFunction(spark, ident, fnInfo, builder)
    }
}
