package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Cast, EqualTo, Expression, SubqueryExpression, And => EAnd}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}

/** SQL statement surface for table MAINTENANCE and row-level DML on
  * graft's log-backed tables — the statements the reference literally
  * runs on its gold layer (`spark.sql(f"OPTIMIZE {t} ZORDER BY
  * (product_id)")`, reference gold_transformation.py:85,160, and
  * `VACUUM`, :171) plus the `UPDATE` / `MERGE INTO` DML that real
  * Delta users write, so a SQL-only user needs no library calls:
  *
  *  - `OPTIMIZE <t> [ZORDER BY (c, ...)]` — compaction /
  *    Z-clustering as a dataChange=false commit ([[DeltaLog.optimize]]
  *    for Delta-flavor tables, [[IcebergTable.rewriteDataFiles]] for
  *    Iceberg ones).
  *  - `VACUUM <t> [RETAIN n VERSIONS] [DRY RUN]` — physical cleanup
  *    past the retention horizon ([[DeltaLog.vacuum]] /
  *    [[IcebergTable.expireSnapshots]]).
  *  - `UPDATE <t> SET c = expr, ... [WHERE pred]` — Spark's own
  *    parser produces the [[UpdateTable]] plan; [[GraftRowLevelSql]]
  *    routes it to the flavor's copy-on-write update
  *    ([[DeltaLog.update]] / [[IcebergTable.update]]).
  *  - `MERGE INTO <t> USING <src> ON t.k = s.k WHEN MATCHED THEN
  *    UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the keyed-upsert
  *    shape, routed to [[DeltaLog.merge]] / [[IcebergTable.merge]];
  *    conditional, partial and BY SOURCE clauses route to the
  *    flavor's `mergeFlexible`. A shape neither covers is refused
  *    loudly (never silently half-applied).
  *
  * `<t>` is either a catalog-qualified name whose catalog is a
  * configured [[GraftCatalog]] (`OPTIMIZE graft.gold.sales`) or a
  * quoted filesystem path (`OPTIMIZE '/lake/t'`); the storage flavor
  * is detected from the directory by [[Flavor.of]], as the catalog
  * does.
  *
  * OPTIMIZE/VACUUM are not in Spark's grammar, so [[GraftSqlParser]]
  * recognizes them BEFORE delegating everything else to Spark's
  * parser — the standard extension-parser pattern
  * (`injectParser`). UPDATE/MERGE are in the grammar already; they
  * are intercepted post-resolution by [[GraftRowLevelSql]]
  * (`injectResolutionRule`), because Spark itself would otherwise
  * reject them for tables that do not implement the DSv2 row-level
  * APIs. Planning cost is O(statement); all data movement happens in
  * the routed library calls, which are file-pruned copy-on-write.
  */
object GraftSqlStatements {

  /** `'path'` or `a.b.c` (backtick-quoted parts allowed). */
  private val Target = """(?:'([^']+)'|((?:`[^`]+`|[\w$]+)(?:\s*\.\s*(?:`[^`]+`|[\w$]+))*))"""

  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + Target +
      """(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + Target +
      """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS?|HOURS?))?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + Target +
      """\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+(?:'([^']+)'|(\S+))\s*;?\s*$""").r
  private val SetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""").r
  private val UnsetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""").r
  /** Quoted-path CREATE TABLE only — Spark's own grammar cannot parse
    * a quoted path as a table name, so nothing is hijacked from it;
    * catalog-qualified CREATE TABLE still routes through Spark to
    * [[GraftCatalog.createTable]]. */
  private val CreateTableRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?'([^']+)'""" +
      """\s*\((.+)\)\s*USING\s+(\w+)""" +
      // one paren-nesting level inside PARTITIONED BY: hidden
      // partitioning transforms are calls — `bucket(4, k)`, `days(ts)`
      """(?:\s+PARTITIONED\s+BY\s*\(\s*((?:[^()]|\([^()]*\))+?)\s*\))?""" +
      """(?:\s+CLUSTER\s+BY\s*\(\s*([^)]+?)\s*\))?""" +
      """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s*;?\s*$""").r
  private val ShallowCloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?'([^']+)'""" +
      """\s+SHALLOW\s+CLONE\s+'([^']+)'\s*;?\s*$""").r
  /** Quoted-path only — catalog-qualified SHOW TBLPROPERTIES stays
    * with Spark's own grammar. */
  private val ShowPropsRe =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+'([^']+)'\s*;?\s*$""".r
  private val DescribeHistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + Target + """\s*;?\s*$""").r
  private val DescribeDetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + Target + """\s*;?\s*$""").r
  /** Quoted-path only — Spark's own grammar owns the catalog-ident
    * forms of SHOW CREATE TABLE / DESCRIBE EXTENDED. */
  private val ShowCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+'([^']+)'\s*;?\s*$""".r
  private val DescribeExtendedRe =
    """(?is)^\s*DESC(?:RIBE)?\s+EXTENDED\s+'([^']+)'\s*;?\s*$""".r
  /** `CALL graft.system.<proc>('<path>'[, args…])` — the procedure
    * invocation surface production Iceberg users run maintenance
    * through (Spark has no CALL grammar of its own to collide with). */
  /** `CONVERT TO DELTA [parquet.]'<path>' [PARTITIONED BY (col [type], …)]`
    * — quoted-path only, like the other graft DDL. */
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+DELTA\s+(?:parquet\s*\.\s*)?'([^']+)'""" +
      """(?:\s+PARTITIONED\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""").r
  /** `CONVERT TO ICEBERG [parquet.]'<path>'` — in-place adoption of a
    * parquet dir as an Iceberg table with a name mapping
    * ([[IcebergTable.convertFrom]]); unpartitioned only. */
  private val ConvertIcebergRe =
    ("""(?is)^\s*CONVERT\s+TO\s+ICEBERG\s+(?:parquet\s*\.\s*)?""" +
      """'([^']+)'\s*;?\s*$""").r
  private val CallRe =
    """(?is)^\s*CALL\s+graft\.system\.(\w+)\s*\((.*)\)\s*;?\s*$""".r
  private val RenameColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+RENAME\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+TO\s+(`[^`]+`|[\w$]+)\s*;?\s*$""").r
  private val DropColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+COLUMN\s+(`[^`]+`|[\w$]+)\s*;?\s*$""").r
  private val AddPartFieldRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+PARTITION\s+FIELD\s+([\w$]+(?:\s*\([^)]*\))?)\s*;?\s*$""").r
  private val DropPartFieldRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+PARTITION\s+FIELD\s+([\w$]+(?:\s*\([^)]*\))?)\s*;?\s*$""").r
  private val ReplacePartFieldRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+REPLACE\s+PARTITION\s+FIELD\s+([\w$]+(?:\s*\([^)]*\))?)""" +
      """\s+WITH\s+([\w$]+(?:\s*\([^)]*\))?)\s*;?\s*$""").r
  /** `ALTER TABLE <t> ADD COLUMN[S] [(]c TYPE [NOT NULL] DEFAULT
    * <lit>[, …][)]` — intercepted ONLY when a DEFAULT clause is
    * present (plain ADD COLUMN keeps flowing through Spark's own
    * grammar into the catalog's alterTable). Iceberg v3 column
    * defaults (spec v3 §Default values). */
  private val AddColumnsDefaultRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+COLUMNS?\s+\(?\s*(.+?\bDEFAULT\b.+?)\s*\)?\s*;?\s*$""").r
  /** `ALTER TABLE <t> ALTER COLUMN c SET DEFAULT <lit>` / `DROP
    * DEFAULT` — Delta column defaults (writer feature
    * allowColumnDefaults). */
  private val AlterColumnDefaultRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+""" +
      """(?:SET\s+DEFAULT\s+(.+?)|(DROP\s+DEFAULT))\s*;?\s*$""").r
  /** `ALTER TABLE <t> ALTER COLUMN c TYPE <wider>` — Delta type
    * widening ([[DeltaLog.widenColumnType]]) / Iceberg type promotion
    * ([[IcebergTable.updateColumnType]]). */
  private val AlterColumnTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+""" +
      """(?:SET\s+DATA\s+)?TYPE\s+([\w()\s,]+?)\s*;?\s*$""").r
  private val AddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+CONSTRAINT\s+([\w$]+)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+CONSTRAINT\s+([\w$]+)\s*;?\s*$""").r
  /** `ALTER TABLE <t> CLUSTER BY (c1, c2)` / `CLUSTER BY NONE` —
    * declarative clustering on Delta tables (the liquid shape). */
  private val ClusterByRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+CLUSTER\s+BY\s+(?:(NONE)|\(\s*([^)]+?)\s*\))\s*;?\s*$""").r
  /** `ALTER TABLE <t> WRITE ORDERED BY (c1 [ASC|DESC], …)` /
    * `WRITE UNORDERED` — the Iceberg default-sort-order DDL. */
  private val WriteOrderRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+WRITE\s+(?:(UNORDERED)|ORDERED\s+BY\s+\(?\s*([^);]+?)\s*\)?)\s*;?\s*$""").r

  /** Split on commas at bracket-depth 0, outside single quotes —
    * `d DECIMAL(10,2)`, `m MAP<STRING, BIGINT>` and
    * `s STRUCT<a: INT, b: STRING>` stay whole. */
  private[sources] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case c @ ('(' | '<') if !inQ => depth += 1; cur += c
      case c @ (')' | '>') if !inQ => depth -= 1; cur += c
      case ',' if !inQ && depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.toSeq.filter(_.nonEmpty)
  }

  /** One column definition: `name TYPE [NOT NULL] [GENERATED ALWAYS
    * AS (expr)]` → StructField (generation lands as the protocol's
    * `delta.generationExpression` metadata). */
  private[sources] def parseColDef(defn: String): org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types._
    var d = defn.trim
    var gen: Option[String] = None
    // IDENTITY columns (PROTOCOL.md §Identity Columns):
    // `GENERATED ALWAYS|BY DEFAULT AS IDENTITY
    //  [(START WITH n) (INCREMENT BY k)]` — parsed BEFORE the
    // expression form (whose regex would match the same prefix)
    var identity: Option[(Long, Long, Boolean)] = None // start, step, byDefault
    val idRe =
      "(?i)\\bGENERATED\\s+(ALWAYS|BY\\s+DEFAULT)\\s+AS\\s+IDENTITY\\b".r
    idRe.findFirstMatchIn(d).foreach { m =>
      val byDefault = m.group(1).toUpperCase(java.util.Locale.ROOT) != "ALWAYS"
      val rest = d.substring(m.end).trim
      var start = 1L; var step = 1L
      if (rest.nonEmpty) {
        require(rest.startsWith("(") && rest.endsWith(")"),
          s"IDENTITY options must be parenthesized: $defn")
        val inner = rest.substring(1, rest.length - 1)
        "(?i)START\\s+WITH\\s+(-?\\d+)".r.findFirstMatchIn(inner)
          .foreach(g => start = g.group(1).toLong)
        "(?i)INCREMENT\\s+BY\\s+(-?\\d+)".r.findFirstMatchIn(inner)
          .foreach(g => step = g.group(1).toLong)
        require("(?i)(START\\s+WITH\\s+-?\\d+|INCREMENT\\s+BY\\s+-?\\d+|[\\s,])*".r
          .matches(inner), s"unparsed IDENTITY options in: $defn")
      }
      require(step != 0, s"IDENTITY INCREMENT BY must be non-zero: $defn")
      identity = Some((start, step, byDefault))
      d = d.substring(0, m.start).trim
    }
    "(?i)\\bGENERATED\\s+ALWAYS\\s+AS\\b".r.findFirstMatchIn(d).foreach { m =>
      val rest = d.substring(m.end).trim
      require(rest.startsWith("("),
        s"GENERATED ALWAYS AS needs a parenthesized expression: $defn")
      var depth = 0; var i = 0; var end = -1; var inQ = false
      while (i < rest.length && end < 0) {
        rest.charAt(i) match {
          case '\'' => inQ = !inQ
          case '(' if !inQ => depth += 1
          case ')' if !inQ => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      require(end > 0, s"unbalanced parentheses in: $defn")
      require(rest.substring(end + 1).trim.isEmpty,
        s"unexpected tokens after the generated expression: $defn")
      gen = Some(rest.substring(1, end).trim)
      d = d.substring(0, m.start).trim
    }
    // `DEFAULT <lit>` — before or after NOT NULL; lands as the
    // CURRENT_DEFAULT column metadata (Delta column defaults). The
    // optional trailing group keeps a `DEFAULT 'x' NOT NULL` order
    // from swallowing the constraint into the default text (the
    // lazy capture alone is $-anchored, so it would).
    val defaultRe = "(?is)\\s+DEFAULT\\s+(.+?)(\\s+NOT\\s+NULL)?\\s*$".r
    var dflt: Option[String] = None
    var notNullTrailing = false
    def stripDefault(): Unit =
      defaultRe.findFirstMatchIn(d).foreach { m =>
        dflt = Some(m.group(1).trim)
        if (m.group(2) != null) notNullTrailing = true
        d = d.substring(0, m.start) }
    stripDefault()
    val notNullRe = "(?i)\\s+NOT\\s+NULL\\s*$".r
    val notNull = notNullTrailing || notNullRe.findFirstIn(d).isDefined
    if (notNull && !notNullTrailing) d = notNullRe.replaceFirstIn(d, "")
    if (dflt.isEmpty) stripDefault()
    val sp = d.indexWhere(_.isWhitespace)
    require(sp > 0, s"expected '<name> <type>', got: $defn")
    val name = d.substring(0, sp).stripPrefix("`").stripSuffix("`")
    val dt = DataType.fromDDL(d.substring(sp + 1).trim)
    val mb = new MetadataBuilder()
    gen.foreach(mb.putString("delta.generationExpression", _))
    dflt.foreach { dv =>
      require(gen.isEmpty && identity.isEmpty,
        s"column $defn cannot combine DEFAULT with GENERATED/IDENTITY")
      mb.putString(DeltaLog.ColumnDefaultKey, dv)
    }
    identity.foreach { case (start, step, byDefault) =>
      require(gen.isEmpty,
        s"column $defn cannot be both GENERATED AS (expr) and IDENTITY")
      require(dt == LongType,
        s"IDENTITY columns must be BIGINT, got ${dt.simpleString}: $defn")
      mb.putLong(DeltaLog.IdentityStartKey, start)
      mb.putLong(DeltaLog.IdentityStepKey, step)
      mb.putBoolean(DeltaLog.IdentityAllowExplicitKey, byDefault)
    }
    StructField(name, dt, nullable = !notNull, mb.build())
  }

  /** Split `a.`b.c`.d` on dots outside backticks. */
  private[sources] def splitParts(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inTick = false
    s.foreach {
      case '`' => inTick = !inTick
      case '.' if !inTick => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.toSeq
  }

  private def cols(s: String): Seq[String] =
    splitCsv(s).map(c => c.stripPrefix("`").stripSuffix("`"))

  /** Split on commas OUTSIDE single quotes. A doubled quote inside a
    * quoted run is the SQL escape for a literal quote — it must not
    * toggle the quoting state. */
  private[sources] def splitQuotedCsv(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' if inQ && i + 1 < s.length && s.charAt(i + 1) == '\'' =>
          cur += '\''; cur += '\''; i += 1 // escaped quote: stay quoted
        case '\'' => inQ = !inQ; cur += '\''
        case ',' if !inQ => out += cur.result().trim; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    out += cur.result().trim
    out.toSeq.filter(_.nonEmpty)
  }

  private[sources] def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else t.stripPrefix("`").stripSuffix("`")
  }

  /** `'k' = 'v', k2 = v2, …` → ordered property map. */
  private[sources] def parseProps(kvs: String): Seq[(String, String)] =
    splitQuotedCsv(kvs).map { kv =>
      val eq = {
        // the first '=' outside quotes ('' inside a quoted run is the
        // escaped literal quote, not a state toggle)
        var i = 0; var inQ = false; var at = -1
        while (i < kv.length && at < 0) {
          val c = kv.charAt(i)
          if (c == '\'') {
            if (inQ && i + 1 < kv.length && kv.charAt(i + 1) == '\'') i += 1
            else inQ = !inQ
          } else if (c == '=' && !inQ) at = i
          i += 1
        }
        require(at > 0, s"expected key = value, got: $kv")
        at
      }
      stripQuotes(kv.substring(0, eq)) -> stripQuotes(kv.substring(eq + 1))
    }

  private def splitCsv(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Recognize a graft statement, or None → delegate to Spark. */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeRe(path, ident, z) =>
      Some(GraftOptimizeCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        Option(z).map(cols).getOrElse(Nil)))
    case VacuumRe(path, ident, retain, unit, dry) =>
      Some(GraftVacuumCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        Option(retain).map(_.toInt),
        retainHours = Option(unit).exists(_.toUpperCase.startsWith("HOUR")),
        dryRun = dry != null))
    case RestoreRe(path, ident, kind, quoted, bare) =>
      Some(GraftRestoreCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        kind.equalsIgnoreCase("VERSION"),
        Option(quoted).getOrElse(bare)))
    case SetPropsRe(path, ident, kvs) =>
      Some(GraftTablePropertiesCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        set = Some(parseProps(kvs))))
    case UnsetPropsRe(path, ident, ks) =>
      Some(GraftTablePropertiesCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        set = None, unset = splitQuotedCsv(ks).map(stripQuotes)))
    case ShallowCloneRe(ifNot, dstPath, srcPath) =>
      Some(GraftShallowCloneCommand(dstPath, ifNot != null, srcPath))
    case ShowPropsRe(path) =>
      Some(GraftShowPropsCommand(path))
    case CreateTableRe(ifNot, path, colDefs, provider, partCols,
                       clusterCols, props) =>
      // paren-aware split: hidden-partitioning transforms carry commas
      // (`bucket(4, id)`)
      Some(GraftCreateTableCommand(path, ifNot != null, colDefs.trim,
        provider, Option(partCols).map(s =>
          splitTopLevel(s).map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
        Option(props).map(parseProps).getOrElse(Nil),
        Option(clusterCols).map(s =>
          s.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq).getOrElse(Nil)))
    case ClusterByRe(path, ident, none, cols) =>
      Some(GraftClusterByCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        if (none != null) Nil
        else cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq))
    case WriteOrderRe(path, ident, unordered, cols) =>
      Some(GraftWriteOrderCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        if (unordered != null) Nil
        else cols.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
          val ps = c.split("\\s+")
          (ps.head.stripPrefix("`").stripSuffix("`"),
            !(ps.length > 1 && ps(1).equalsIgnoreCase("desc")))
        }.toSeq))
    case DescribeHistoryRe(path, ident) =>
      Some(GraftDescribeHistoryCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil)))
    case DescribeDetailRe(path, ident) =>
      Some(GraftDescribeDetailCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil)))
    case ShowCreateRe(path) =>
      Some(GraftShowCreateTableCommand(path))
    case DescribeExtendedRe(path) =>
      Some(GraftDescribeExtendedCommand(path))
    case ConvertRe(path, partCols) =>
      Some(GraftConvertToDeltaCommand(path,
        Option(partCols).map(pc => splitCsv(pc)
          .map(_.trim.split("\\s+").head.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)).getOrElse(Nil)))
    case ConvertIcebergRe(path) =>
      Some(GraftConvertToIcebergCommand(path))
    case CallRe(proc, args) =>
      Some(GraftCallCommand(proc.toLowerCase(java.util.Locale.ROOT),
        args.trim))
    case RenameColRe(path, ident, from, to) =>
      Some(GraftColumnDdlCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        stripQuotes(from), rename = Some(stripQuotes(to))))
    case DropColRe(path, ident, colName) =>
      Some(GraftColumnDdlCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        stripQuotes(colName), rename = None))
    case AddPartFieldRe(path, ident, transform) =>
      Some(GraftPartitionFieldCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        transform.trim, isAdd = true))
    case DropPartFieldRe(path, ident, what) =>
      Some(GraftPartitionFieldCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        what.trim, isAdd = false))
    case ReplacePartFieldRe(path, ident, what, transform) =>
      Some(GraftPartitionFieldCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        transform.trim, isAdd = true, replaceOf = Some(what.trim)))
    case AlterColumnTypeRe(path, ident, colName, typeDdl) =>
      Some(GraftAlterColumnTypeCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        colName.stripPrefix("`").stripSuffix("`"), typeDdl.trim))
    case AlterColumnDefaultRe(path, ident, colName, setLit, dropKw) =>
      Some(GraftAlterColumnDefaultCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil),
        colName.stripPrefix("`").stripSuffix("`"),
        if (dropKw != null) None else Some(setLit.trim)))
    case AddColumnsDefaultRe(path, ident, defs)
      // GENERATED BY DEFAULT AS IDENTITY also contains "DEFAULT" —
      // identity/generated columns are NOT this statement
      if "(?i)\\bGENERATED\\b".r.findFirstIn(defs).isEmpty =>
      Some(GraftAddColumnsDefaultCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil), defs.trim))
    case AddConstraintRe(path, ident, name, check) =>
      Some(GraftConstraintCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil), name,
        Some(check.trim)))
    case DropConstraintRe(path, ident, name) =>
      Some(GraftConstraintCommand(Option(path),
        Option(ident).map(splitParts).getOrElse(Nil), name, None))
    case _ => None
  }

  /** Resolve the statement target to a table directory. */
  private[sources] def resolveDir(spark: SparkSession, path: Option[String],
                                  parts: Seq[String]): String =
    path.getOrElse {
      require(parts.length >= 2,
        s"qualify the table as <catalog>.<ns...>.<name> where the " +
          "catalog is a configured graft.sources.GraftCatalog, or pass " +
          "a quoted filesystem path: OPTIMIZE '/lake/t'")
      val cat = parts.head
      val impl = Option(spark.conf.get(s"spark.sql.catalog.$cat", null))
      require(impl.contains("graft.sources.GraftCatalog"),
        s"catalog '$cat' is not a configured graft.sources.GraftCatalog " +
          s"(spark.sql.catalog.$cat=${impl.getOrElse("<unset>")})")
      val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
      (root +: parts.tail).mkString("/")
    }

  /** The [[Flavor]] of the table at `dir`; a plain parquet directory
    * refuses — the statements need a transaction log. */
  private[sources] def flavorOf(spark: SparkSession, dir: String): Flavor = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no table directory at $dir")
    Flavor.of(fs, p).getOrElse(throw new IllegalArgumentException(
      s"$dir is a plain parquet directory — OPTIMIZE/VACUUM need a " +
        "transaction log (Delta or Iceberg)"))
  }
}

/** Extension parser: graft maintenance statements first, Spark's own
  * grammar for everything else. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlStatements.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}

/** `OPTIMIZE <t> [ZORDER BY (c, ...)]` → the flavor's compaction
  * service; returns (table, version). */
case class GraftOptimizeCommand(path: Option[String], parts: Seq[String],
                                zorder: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    val v = flavorOf(spark, dir) match {
      case DeltaFlavor => DeltaLog.optimize(spark, dir, zorderBy = zorder)
      case IcebergFlavor =>
        require(zorder.isEmpty,
          "ZORDER BY is not supported for Iceberg-flavor tables")
        // data-file compaction for BOTH layouts (partitioned tables
        // bin-pack per partition tuple) — applies + folds away MOR
        // deletes and subsumes manifest reorganization
        IcebergTable.rewriteDataFiles(spark, dir)
    }
    Seq(Row(dir, v))
  }
}

/** `RESTORE [TABLE] <t> TO VERSION AS OF <v>` (or `TO TIMESTAMP AS OF
  * '<ts>'`, Delta-flavor) → the flavor's rollback service: Delta gets
  * the file-set-diff restore commit ([[DeltaLog.restore]] — history
  * preserved, one new version), Iceberg the `rollback_to_snapshot`
  * pointer move ([[IcebergTable.rollbackTo]] — version = snapshot id,
  * matching `VERSION AS OF` reads on this flavor). Timestamp
  * targets accept epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`. Both
  * are metadata-only — no data file moves. */
case class GraftRestoreCommand(path: Option[String], parts: Seq[String],
                               isVersion: Boolean, target: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    def tsMillis: Long =
      if (target.forall(_.isDigit)) target.toLong
      else java.sql.Timestamp.valueOf(target).getTime
    val v = flavorOf(spark, dir) match {
      case DeltaFlavor =>
        if (isVersion) DeltaLog.restore(spark, dir,
          versionAsOf = Some(target.toLong))
        else DeltaLog.restore(spark, dir, timestampAsOf = Some(tsMillis))
      case IcebergFlavor =>
        // TIMESTAMP AS OF resolves through the snapshot log (the
        // newest snapshot at or before the timestamp), then rolls the
        // pointer — Iceberg's rollback_to_timestamp procedure
        val snapId =
          if (isVersion) target.toLong
          else IcebergTable.snapshot(spark, dir,
            timestampAsOf = Some(tsMillis)).snapshotId
        IcebergTable.rollbackTo(spark, dir, snapId)
    }
    Seq(Row(dir, v))
  }
}

/** `ALTER TABLE <t> SET TBLPROPERTIES ('k'='v', …)` / `UNSET
  * TBLPROPERTIES ('k', …)` → [[DeltaLog.setTableProperties]] /
  * [[DeltaLog.unsetTableProperties]] — a metaData-only commit; setting
  * `delta.enableChangeDataFeed=true` carries the changeDataFeed
  * protocol bump and turns on `_change_data` CDF writes for every
  * subsequent DML. Delta-flavor only (table configuration is a Delta
  * log concept) and Iceberg table properties. */
case class GraftTablePropertiesCommand(path: Option[String],
                                       parts: Seq[String],
                                       set: Option[Seq[(String, String)]],
                                       unset: Seq[String] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    val v = flavorOf(spark, dir) match {
      case DeltaFlavor => set match {
        case Some(kvs) => DeltaLog.setTableProperties(spark, dir, kvs.toMap)
        case None => DeltaLog.unsetTableProperties(spark, dir, unset)
      }
      case IcebergFlavor => set match {
        case Some(kvs) => IcebergTable.setProperties(spark, dir, kvs.toMap)
        case None => IcebergTable.unsetProperties(spark, dir, unset)
      }
    }
    Seq(Row(dir, v))
  }
}

/** `CREATE TABLE '<path>' (col TYPE [NOT NULL] [GENERATED ALWAYS AS
  * (expr)], …) USING <provider> [PARTITIONED BY (…)] [TBLPROPERTIES
  * (…)]` — the DDL-first creation surface on quoted paths, routed by
  * provider:
  *  - `delta` → [[DeltaLog.createTable]]: version 0 commits protocol
  *    + metaData with NO data, so the declared schema (NOT NULL,
  *    generated columns), partitioning and configuration bind every
  *    writer before the first row.
  *  - `iceberg` → [[IcebergTable.createTable]]: one
  *    `v1.metadata.json` with the declared schema, partition spec
  *    (hidden transforms accepted: `PARTITIONED BY (days(ts),
  *    bucket(4, id))`) and properties, NO snapshot — appends must
  *    match both.
  * `IF NOT EXISTS` on an existing table is a no-op returning its
  * current version/snapshot. */
case class GraftCreateTableCommand(dir: String, ifNotExists: Boolean,
                                   colDefs: String, provider: String,
                                   partitionBy: Seq[String],
                                   props: Seq[(String, String)],
                                   clusterBy: Seq[String] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val fields = GraftSqlStatements.splitTopLevel(colDefs)
      .map(GraftSqlStatements.parseColDef)
    def requireNoGenerated(): Unit = fields.foreach(f =>
      require(!f.metadata.contains(DeltaLog.GenerationExprKey),
        s"GENERATED columns are a Delta feature; USING $provider " +
          "cannot declare them"))
    def requireNoDefaults(): Unit = fields.foreach(f =>
      require(!f.metadata.contains(DeltaLog.ColumnDefaultKey),
        s"DEFAULT at CREATE is a Delta feature; USING $provider " +
          "declares defaults via ALTER TABLE ... ADD COLUMN ... DEFAULT " +
          "(Iceberg, format-version 3)"))
    val fsConf = spark.sparkContext.hadoopConfiguration
    val v: Long = provider.toLowerCase match {
      case "delta" =>
        val p = new org.apache.hadoop.fs.Path(dir, "_delta_log")
        val fs = p.getFileSystem(fsConf)
        if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
          require(ifNotExists, s"Delta table already exists at $dir")
          return Seq(Row(dir, DeltaLog.listVersions(spark, dir).last))
        }
        val v0 = DeltaLog.createTable(spark, dir,
          org.apache.spark.sql.types.StructType(fields), partitionBy,
          props.toMap)
        // CLUSTER BY binds right behind creation (v1) — before any row
        if (clusterBy.nonEmpty) DeltaLog.setClusterBy(spark, dir, clusterBy)
        else v0
      case "iceberg" =>
        require(clusterBy.isEmpty,
          "CLUSTER BY is a Delta feature — Iceberg layout is declared " +
            "via PARTITIONED BY hidden transforms")
        requireNoGenerated()
        requireNoDefaults()
        val p = new org.apache.hadoop.fs.Path(dir, "metadata")
        val fs = p.getFileSystem(fsConf)
        if (fs.exists(p) &&
          fs.globStatus(new org.apache.hadoop.fs.Path(p,
            "v*.metadata.json")).nonEmpty) {
          require(ifNotExists, s"Iceberg table already exists at $dir")
          return Seq(Row(dir,
            IcebergTable.snapshot(spark, dir).snapshotId))
        }
        IcebergTable.createTable(spark, dir,
          org.apache.spark.sql.types.StructType(fields), partitionBy,
          props.toMap)
        -1L // no snapshot yet — the spec's explicit "none" sentinel
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE USING $other is not supported " +
          "(delta / iceberg)")
    }
    Seq(Row(dir, v))
  }
}

/** `CREATE TABLE '<dst>' SHALLOW CLONE '<src>'` →
  * [[DeltaLog.cloneShallow]] — the zero-copy Delta → Delta clone:
  * one commit adopts the source's live files by absolute path;
  * schema, partitioning, configuration and protocol carry over; the
  * clone evolves independently. */
case class GraftShallowCloneCommand(dst: String, ifNotExists: Boolean,
                                    src: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    require(flavorOf(spark, src) == DeltaFlavor,
      s"SHALLOW CLONE sources must be Delta tables; $src is not one " +
        "(Iceberg sources clone via DeltaLog.mirrorFromIceberg)")
    val p = new org.apache.hadoop.fs.Path(dst, "_delta_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
      require(ifNotExists, s"Delta table already exists at $dst")
      return Seq(Row(dst, DeltaLog.listVersions(spark, dst).last))
    }
    Seq(Row(dst, DeltaLog.cloneShallow(spark, src, dst)))
  }
}

/** `SHOW TBLPROPERTIES '<path>'` — the flavor's property store as
  * (key, value) rows: Delta table configuration or Iceberg
  * properties. */
case class GraftShowPropsCommand(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val props = flavorOf(spark, dir) match {
      case DeltaFlavor => DeltaLog.snapshot(spark, dir).configuration
      case IcebergFlavor => IcebergTable.properties(spark, dir)
    }
    props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }
}

/** `DESCRIBE HISTORY <t>` — the flavor's commit history, unified as
  * (version, timestamp_ms, detail): Delta commit versions, Iceberg
  * snapshots (version = snapshot id, detail = operation). Bounded
  * by the log length — a metadata listing, never a data scan. */
case class GraftDescribeHistoryCommand(path: Option[String],
                                       parts: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    flavorOf(spark, dir) match {
      case DeltaFlavor =>
        DeltaLog.history(spark, dir).collect().toSeq.map(r =>
          Row(r.getLong(0), r.getLong(1), r.getString(2)))
      case IcebergFlavor =>
        IcebergTable.history(spark, dir).collect().toSeq.map(r =>
          Row(r.getLong(0), r.getLong(1), r.getString(2)))
    }
  }
}

/** `DESCRIBE DETAIL <t>` — the one-row table summary Delta users
  * lean on (format, location, current version, file/byte/row counts,
  * partition layout, properties), served for both flavors from
  * METADATA alone — no data scan. Row counts come from the log's
  * per-file stats (Delta, DV cardinality subtracted) or the
  * manifests' record counts (Iceberg, live position-deletes
  * subtracted); -1 when the metadata does not record them. */
case class GraftDescribeDetailCommand(path: Option[String],
                                      parts: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_in_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())

  private def propsStr(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString("{", ", ", "}")

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    flavorOf(spark, dir) match {
      case DeltaFlavor =>
        val snap = DeltaLog.snapshot(spark, dir)
        val counts = snap.files.map(_.stats.flatMap(js =>
          "\"numRecords\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(js)
            .map(_.group(1).toLong)))
        val rows =
          if (counts.forall(_.isDefined))
            counts.flatten.sum -
              snap.files.flatMap(_.dv).map(_.cardinality).sum
          else -1L
        Seq(Row("delta", dir, snap.version, snap.files.size.toLong,
          snap.files.map(_.size).sum, rows,
          snap.partitionColumns.mkString("[", ", ", "]"),
          propsStr(snap.configuration)))
      case IcebergFlavor =>
        val snap = IcebergTable.snapshot(spark, dir)
        val posDeleted = snap.deletes.filter(_.content == 1)
          .map(_.records).sum
        Seq(Row("iceberg", dir, snap.snapshotId,
          snap.files.size.toLong, snap.files.map(_.sizeBytes).sum,
          math.max(snap.files.map(_.records).sum - posDeleted, 0L),
          snap.specFields.map(_.canonical).mkString("[", ", ", "]"),
          propsStr(IcebergTable.properties(spark, dir))))
    }
  }
}

/** `SHOW CREATE TABLE '<path>'` — REVERSE DDL from metadata alone,
  * for both flavors: the emitted statement ROUND-TRIPS through
  * [[GraftSqlStatements.parse]]'s CREATE TABLE grammar (columns with
  * NOT NULL and GENERATED ALWAYS AS, PARTITIONED BY including hidden
  * transforms, TBLPROPERTIES) — the text users paste into migration
  * scripts. Delta constraint/column-mapping properties are OMITTED
  * (their CREATE path refuses them toward the validating DDL —
  * DESCRIBE EXTENDED shows them). */
case class GraftShowCreateTableCommand(dir: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  private def colDef(f: org.apache.spark.sql.types.StructField): String = {
    val nn = if (!f.nullable) " NOT NULL" else ""
    val gen =
      if (f.metadata.contains(DeltaLog.GenerationExprKey))
        s" GENERATED ALWAYS AS (${f.metadata.getString(DeltaLog.GenerationExprKey)})"
      else if (f.metadata.contains(DeltaLog.IdentityStartKey)) {
        val kind =
          if (f.metadata.contains(DeltaLog.IdentityAllowExplicitKey) &&
            f.metadata.getBoolean(DeltaLog.IdentityAllowExplicitKey))
            "BY DEFAULT" else "ALWAYS"
        s" GENERATED $kind AS IDENTITY (START WITH " +
          s"${f.metadata.getLong(DeltaLog.IdentityStartKey)} INCREMENT BY " +
          s"${f.metadata.getLong(DeltaLog.IdentityStepKey)})"
      } else ""
    s"`${f.name}` ${f.dataType.sql}$nn$gen"
  }
  private def propsSql(m: Map[String, String]): String =
    if (m.isEmpty) ""
    else m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
    }.mkString("\nTBLPROPERTIES (", ", ", ")")
  private def partSql(cols: Seq[String]): String =
    if (cols.isEmpty) "" else cols.mkString("\nPARTITIONED BY (", ", ", ")")

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val d = resolveDir(spark, Some(dir), Nil)
    val stmt = flavorOf(spark, d) match {
      case DeltaFlavor =>
        val snap = DeltaLog.snapshot(spark, d)
        val props = snap.configuration.filterNot { case (k, _) =>
          k.startsWith("delta.constraints.") ||
            k.startsWith("delta.columnMapping.") }
        val cluster = DeltaLog.clusteringColumns(snap)
        val clusterSql =
          if (cluster.isEmpty) ""
          else cluster.map(c => s"`$c`")
            .mkString("\nCLUSTER BY (", ", ", ")")
        s"CREATE TABLE '$d' (\n  " +
          snap.schema.fields.map(colDef).mkString(",\n  ") +
          "\n)\nUSING delta" + partSql(snap.partitionColumns) +
          clusterSql + propsSql(props)
      case IcebergFlavor =>
        val snap = IcebergTable.snapshot(spark, d)
        s"CREATE TABLE '$d' (\n  " +
          snap.schema.fields.map(colDef).mkString(",\n  ") +
          "\n)\nUSING iceberg" +
          partSql(snap.specFields.map(_.canonical)) +
          propsSql(IcebergTable.properties(spark, d)
            .filterNot(_._1 == "graft.mirror-of"))
    }
    Seq(Row(stmt))
  }
}

/** `DESCRIBE EXTENDED '<path>'` — the column listing plus the
  * `# Detailed Table Information` section (format, location, current
  * version, file/byte/row counts, partitioning, FULL properties —
  * constraints and column mapping included, unlike the round-trippable
  * SHOW CREATE TABLE). */
case class GraftDescribeExtendedCommand(dir: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val d = resolveDir(spark, Some(dir), Nil)
    val detail = GraftDescribeDetailCommand(Some(d), Nil).run(spark).head
    val schema: org.apache.spark.sql.types.StructType =
      flavorOf(spark, d) match {
        case DeltaFlavor => DeltaLog.snapshot(spark, d).schema
        case IcebergFlavor => IcebergTable.snapshot(spark, d).schema
      }
    val colRows = schema.fields.toSeq.map { f =>
      val comment =
        if (f.metadata.contains(DeltaLog.GenerationExprKey))
          s"GENERATED ALWAYS AS (${f.metadata.getString(DeltaLog.GenerationExprKey)})"
        else null
      Row(f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT), comment)
    }
    // ANALYZE output (Iceberg): the per-column NDVs from the table's
    // Puffin statistics, when analyzed
    val statRows = flavorOf(spark, d) match {
      case IcebergFlavor =>
        val ndv = IcebergTable.columnStats(spark, d)
        if (ndv.isEmpty) Seq.empty
        else Row("", "", null) +: Row("# Column Statistics", "", null) +:
          schema.fields.toSeq.flatMap(f =>
            ndv.get(f.name).map(n => Row(f.name, s"ndv $n", null)))
      case _ => Seq.empty
    }
    colRows ++ Seq(
      Row("", "", null),
      Row("# Detailed Table Information", "", null),
      Row("Format", detail.getString(0), null),
      Row("Location", detail.getString(1), null),
      Row("Version", detail.getLong(2).toString, null),
      Row("Num Files", detail.getLong(3).toString, null),
      Row("Size In Bytes", detail.getLong(4).toString, null),
      Row("Num Rows", detail.getLong(5).toString, null),
      Row("Partitioning", detail.getString(6), null),
      Row("Properties", detail.getString(7), null)) ++ statRows
  }
}

/** `CONVERT TO DELTA [parquet.]'<path>'` →
  * [[DeltaLog.convertToDelta]] — adopt a parquet directory in place
  * as a Delta table: one metadata-only commit, no data movement
  * (footer stats, hive partition keys honored via PARTITIONED BY). */
case class GraftConvertToDeltaCommand(dir: String, partCols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(dir, DeltaLog.convertToDelta(spark, dir, partCols)))
}

/** `CONVERT TO ICEBERG [parquet.]'<path>'` →
  * [[IcebergTable.convertFrom]]: in-place adoption with
  * `schema.name-mapping.default` recorded. */
case class GraftConvertToIcebergCommand(dir: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("snapshot_id", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(dir, IcebergTable.convertFrom(spark, dir)))
}

/** `CALL graft.system.<proc>(…)` — Iceberg-style maintenance
  * procedures: `expire_snapshots('<t>'[, keep])`,
  * `rewrite_data_files('<t>'[, target_bytes])`,
  * `rewrite_position_delete_files('<t>')`, `rewrite_manifests('<t>')`,
  * `rollback_to_snapshot('<t>', id)`,
  * `rollback_to_timestamp('<t>', 'yyyy-mm-dd hh:mm:ss')`,
  * `create_tag / create_branch('<t>', 'name', id)`,
  * `fast_forward('<t>', 'branch', id)`, `drop_ref('<t>', 'name')`,
  * `publish_wap('<t>', 'wap-id')`. Each maps to the library call the
  * scaladoc of the target documents; the result column carries the
  * returned snapshot id / count. */
case class GraftCallCommand(proc: String, rawArgs: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("procedure", StringType, nullable = false)(),
    AttributeReference("result", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val args =
      if (rawArgs.trim.isEmpty) Nil
      else splitQuotedCsv(rawArgs).map(_.trim)
    require(args.nonEmpty,
      s"CALL graft.system.$proc needs the table path as its first argument")
    val dir = stripQuotes(args.head)
    def num(i: Int): Long = stripQuotes(args(i)).toLong
    def str(i: Int): String = stripQuotes(args(i))
    val res: String = proc match {
      case "expire_snapshots" =>
        // expire_snapshots('<t>'[, keep][, 'older-than timestamp'])
        val olderThan = args.drop(1).map(stripQuotes)
          .find(a => !a.forall(_.isDigit))
          .map(ts => java.sql.Timestamp.valueOf(ts).getTime)
        val keep = args.drop(1).map(stripQuotes)
          .find(_.forall(_.isDigit)).map(_.toInt).getOrElse(1)
        IcebergTable.expireSnapshots(spark, dir, keep,
          olderThanMs = olderThan).size.toString
      case "remove_orphan_files" =>
        // remove_orphan_files('<t>'[, 'older-than timestamp'])
        val cut =
          if (args.size > 1) java.sql.Timestamp.valueOf(str(1)).getTime
          else System.currentTimeMillis() - 3L * 24 * 3600 * 1000
        IcebergTable.removeOrphanFiles(spark, dir, cut).size.toString
      case "rewrite_data_files" =>
        IcebergTable.rewriteDataFiles(spark, dir,
          if (args.size > 1) num(1) else 128L << 20).toString
      case "rewrite_position_delete_files" =>
        IcebergTable.rewritePositionDeleteFiles(spark, dir).toString
      case "analyze_table" =>
        // analyze_table('<t>'[, 'col1', 'col2', …]) — per-column NDV
        // sketches into a Puffin statistics file + metadata entry
        IcebergTable.analyzeTable(spark, dir,
          args.drop(1).map(stripQuotes)).toString
      case "rewrite_manifests" =>
        IcebergTable.rewriteManifests(spark, dir).toString
      case "rollback_to_snapshot" =>
        IcebergTable.rollbackTo(spark, dir, num(1)).toString
      case "rollback_to_timestamp" =>
        val ts = java.sql.Timestamp.valueOf(str(1)).getTime
        IcebergTable.rollbackTo(spark, dir, IcebergTable.snapshot(spark,
          dir, timestampAsOf = Some(ts)).snapshotId).toString
      case "create_tag" =>
        IcebergTable.createTag(spark, dir, str(1), num(2)).toString
      case "create_branch" =>
        IcebergTable.createBranch(spark, dir, str(1), num(2)).toString
      case "fast_forward" =>
        IcebergTable.fastForwardBranch(spark, dir, str(1), num(2)).toString
      case "drop_ref" =>
        IcebergTable.dropRef(spark, dir, str(1)).toString
      case "publish_wap" =>
        IcebergTable.publishWap(spark, dir, str(1)).toString
      case "publish_branch" =>
        IcebergTable.publishBranch(spark, dir, str(1)).toString
      case "compact_delta_log" =>
        // compact_delta_log('<t>', startV, endV) — minor log
        // compaction (PROTOCOL.md §Log Compaction Files)
        DeltaLog.compactLog(spark, dir, num(1), num(2)).toString
      case "cleanup_delta_log" =>
        // cleanup_delta_log('<t>'[, 'older-than timestamp']) —
        // expired-log deletion per delta.logRetentionDuration
        val cut = if (args.size > 1)
          Some(java.sql.Timestamp.valueOf(str(1)).getTime) else None
        DeltaLog.cleanupLog(spark, dir, olderThanMs = cut).size.toString
      case "checksum_delta" =>
        // checksum_delta('<t>'[, v]) — author <v>.crc (latest v
        // when omitted); PROTOCOL.md §Version Checksum File
        val v = if (args.size > 1) num(1)
          else DeltaLog.listVersions(spark, dir).last
        DeltaLog.writeChecksum(spark, dir, v).toString
      case "verify_checksum_delta" =>
        val v = if (args.size > 1) num(1)
          else DeltaLog.listVersions(spark, dir).last
        val bad = DeltaLog.verifyChecksum(spark, dir, v)
        if (bad.isEmpty) "verified" else bad.mkString("; ")
      case other => throw new UnsupportedOperationException(
        s"unknown procedure graft.system.$other (expire_snapshots, " +
          "rewrite_data_files, rewrite_position_delete_files, " +
          "rewrite_manifests, remove_orphan_files, rollback_to_snapshot, " +
          "rollback_to_timestamp, create_tag, create_branch, " +
          "fast_forward, drop_ref, publish_wap, publish_branch, " +
          "compact_delta_log)")
    }
    Seq(Row(proc, res))
  }
}

/** `ALTER TABLE <t> RENAME COLUMN a TO b` / `DROP COLUMN a`, routed
  * by flavor:
  *  - Delta → [[DeltaLog.renameColumn]] / [[DeltaLog.dropColumn]] —
  *    metadata-only on name-mode column-mapped tables (the field
  *    keeps its column id and physicalName, so no data file changes).
  *  - Iceberg → [[IcebergTable.renameColumn]] / `dropColumn` — the
  *    field-id model makes both a one-metadata-bump edit; reads
  *    resolve old files through the schema history. */
/** `ALTER TABLE <t> ADD COLUMN[S] … DEFAULT …` — Iceberg v3 column
  * defaults ([[IcebergTable.addColumns]] with `defaults`): the value
  * lands as BOTH `initial-default` (served for files written before
  * the column existed) and `write-default` (filled when a writer
  * omits the column). Delta tables refuse — their defaults are a
  * different writer feature this engine does not claim. */
case class GraftAddColumnsDefaultCommand(path: Option[String],
                                         parts: Seq[String],
                                         rawDefs: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == IcebergFlavor,
      s"ADD COLUMN … DEFAULT is Iceberg v3 column defaults; $dir is " +
        "not an Iceberg table")
    val defaultRe = "(?is)\\s+DEFAULT\\s+(.+?)\\s*$".r
    val parsed = splitTopLevel(rawDefs).map { d =>
      val m = defaultRe.findFirstMatchIn(d)
      val field = parseColDef(
        m.map(x => d.substring(0, x.start)).getOrElse(d))
      field -> m.map(_.group(1).trim)
    }
    IcebergTable.addColumns(spark, dir, parsed.map(_._1),
      defaults = parsed.collect {
        case (f, Some(lit)) => f.name -> lit }.toMap)
    Seq(Row(dir, IcebergTable.snapshot(spark, dir).snapshotId))
  }
}

/** `ALTER TABLE <t> ALTER COLUMN c SET DEFAULT <lit>` / `DROP
  * DEFAULT` — Delta-flavor column defaults
  * ([[DeltaLog.setColumnDefault]]); Iceberg tables refuse (their
  * defaults are declared at ADD COLUMN on v3 — a retroactive SET
  * would need an initial-default this engine only honors there). */
case class GraftAlterColumnDefaultCommand(path: Option[String],
                                          parts: Seq[String],
                                          column: String,
                                          default: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == DeltaFlavor,
      s"ALTER COLUMN ... DEFAULT is Delta-flavor; $dir is not a Delta " +
        "table (Iceberg declares defaults at ADD COLUMN ... DEFAULT)")
    Seq(Row(dir, DeltaLog.setColumnDefault(spark, dir, column, default)))
  }
}

/** `ALTER TABLE <t> ALTER COLUMN c TYPE <wider>` — Delta TYPE
  * WIDENING ([[DeltaLog.widenColumnType]], PROTOCOL.md §Type
  * Widening) or Iceberg TYPE PROMOTION
  * ([[IcebergTable.updateColumnType]], spec §Schema Evolution) by
  * table flavor. Metadata-only either way: data files keep their
  * narrow physical type; reads up-cast. */
case class GraftAlterColumnTypeCommand(path: Option[String],
                                       parts: Seq[String],
                                       column: String, typeDdl: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    val to = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val v = flavorOf(spark, dir) match {
      case DeltaFlavor => DeltaLog.widenColumnType(spark, dir, column, to)
      case IcebergFlavor =>
        IcebergTable.updateColumnType(spark, dir, column, to)
        IcebergTable.snapshot(spark, dir).snapshotId
    }
    Seq(Row(dir, v))
  }
}

case class GraftColumnDdlCommand(path: Option[String], parts: Seq[String],
                                 column: String, rename: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    val v = flavorOf(spark, dir) match {
      case DeltaFlavor => rename match {
        case Some(to) => DeltaLog.renameColumn(spark, dir, column, to)
        case None => DeltaLog.dropColumn(spark, dir, column)
      }
      case IcebergFlavor =>
        rename match {
          case Some(to) => IcebergTable.renameColumn(spark, dir, column, to)
          case None => IcebergTable.dropColumn(spark, dir, column)
        }
        IcebergTable.snapshot(spark, dir).snapshotId
    }
    Seq(Row(dir, v))
  }
}

/** `ALTER TABLE <t> CLUSTER BY (c1, c2)` / `CLUSTER BY NONE` —
  * Delta-flavor declarative clustering ([[DeltaLog.setClusterBy]]):
  * the clustering columns land in the `delta.clustering` domain, and
  * every later bare `OPTIMIZE` Z-clusters on them. */
case class GraftClusterByCommand(path: Option[String], parts: Seq[String],
                                 cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == DeltaFlavor,
      s"CLUSTER BY is Delta-flavor declarative clustering; $dir is not " +
        "a Delta table (Iceberg layout evolves via PARTITION FIELD DDL)")
    Seq(Row(dir, DeltaLog.setClusterBy(spark, dir, cols)))
  }
}

/** `ALTER TABLE <t> WRITE ORDERED BY (c1 [ASC|DESC], …)` /
  * `WRITE UNORDERED` → [[IcebergTable.setWriteOrder]]: registers the
  * default sort order subsequent writes honor (range-partitioned +
  * locally sorted staging → tight per-file bounds). Iceberg-flavor
  * only. Returns the new order id. */
case class GraftWriteOrderCommand(path: Option[String], parts: Seq[String],
                                  order: Seq[(String, Boolean)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("order_id", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == IcebergFlavor,
      s"WRITE ORDERED BY sets an Iceberg sort order; $dir is not an " +
        "Iceberg table (Delta layout is declared via CLUSTER BY)")
    Seq(Row(IcebergTable.setWriteOrder(spark, dir, order)))
  }
}

/** `ALTER TABLE <t> ADD/DROP PARTITION FIELD <transform>` and
  * `REPLACE PARTITION FIELD <old> WITH <transform>` — Iceberg-flavor
  * partition-spec evolution, routed to
  * [[IcebergTable.addPartitionField]] / `dropPartitionField` /
  * `replacePartitionField`. Returns the new default spec-id. */
case class GraftPartitionFieldCommand(path: Option[String],
                                      parts: Seq[String],
                                      transform: String,
                                      isAdd: Boolean,
                                      replaceOf: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("spec_id", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == IcebergFlavor,
      s"ADD/DROP/REPLACE PARTITION FIELD is Iceberg-flavor " +
        s"partition-spec evolution; $dir is not an Iceberg table")
    val sid = replaceOf match {
      case Some(old) =>
        IcebergTable.replacePartitionField(spark, dir, old, transform)
      case None if isAdd =>
        IcebergTable.addPartitionField(spark, dir, transform)
      case None =>
        IcebergTable.dropPartitionField(spark, dir, transform)
    }
    Seq(Row(sid.toLong))
  }
}

/** `ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)` /
  * `DROP CONSTRAINT <name>` → [[DeltaLog.addCheckConstraint]] /
  * [[DeltaLog.dropCheckConstraint]]. Delta-flavor only — CHECK
  * constraints are a Delta protocol feature (configuration
  * `delta.constraints.*` + writer version 3); other flavors refuse
  * loudly rather than pretend to persist a predicate nothing would
  * enforce. */
case class GraftConstraintCommand(path: Option[String], parts: Seq[String],
                                  name: String, check: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    require(flavorOf(spark, dir) == DeltaFlavor,
      s"CHECK constraints are a Delta protocol feature; $dir is not a " +
        "Delta table")
    val v = check match {
      case Some(expr) => DeltaLog.addCheckConstraint(spark, dir, name, expr)
      case None => DeltaLog.dropCheckConstraint(spark, dir, name)
    }
    Seq(Row(dir, v))
  }
}

/** `VACUUM <t> [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]` → the
  * flavor's physical cleanup; one row per removed (or
  * would-be-removed) file. `RETAIN n HOURS` (real Delta's grammar)
  * maps to a version count through the commit timestamps — versions
  * younger than the cutoff are retained, the latest always is. */
case class GraftVacuumCommand(path: Option[String], parts: Seq[String],
                              retain: Option[Int],
                              retainHours: Boolean = false,
                              dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlStatements._
    val dir = resolveDir(spark, path, parts)
    def cutoffMs: Long =
      System.currentTimeMillis() - retain.get.toLong * 3600L * 1000L
    flavorOf(spark, dir) match {
      case DeltaFlavor =>
        val keep =
          if (retainHours) DeltaLog.keepCountSince(spark, dir, cutoffMs)
          else retain.getOrElse(1)
        DeltaLog.vacuum(spark, dir, keepVersions = keep,
          dryRun = dryRun).map(Row(_))
      case IcebergFlavor =>
        require(!dryRun, "DRY RUN is not supported for Iceberg tables")
        val keep =
          if (retainHours) IcebergTable.keepCountSince(spark, dir, cutoffMs)
          else retain.getOrElse(1)
        IcebergTable.expireSnapshots(spark, dir,
          keepSnapshots = keep).map(Row(_))
    }
  }
}

/** Resolution rule routing SQL `UPDATE` / `MERGE INTO` over
  * [[GraftDeltaTable]] / [[GraftIcebergTable]] catalog tables to the
  * flavor's copy-on-write update and merge. Spark parses both
  * statements natively but only executes them for tables implementing
  * the DSv2 row-level-operation APIs; this rule swaps the resolved
  * plan for a runnable command BEFORE that check fires. Unsupported
  * shapes (subqueries in assignments, conditional/partial merge
  * actions, non-equi merge conditions) fail loudly at analysis —
  * never a silent partial apply. */
object GraftRowLevelSql extends Rule[LogicalPlan] {

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg), None)

  /** (flavor, table directory) of a routable catalog table. */
  private def targetOf(plan: LogicalPlan): Option[(Flavor, String)] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftDeltaTable] =>
        (DeltaFlavor, r.table.asInstanceOf[GraftDeltaTable].tablePath)
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftIcebergTable] =>
        (IcebergFlavor, r.table.asInstanceOf[GraftIcebergTable].tablePath)
    }

  /** Resolved → re-resolvable-by-name (DeltaLog re-plans the table
    * frame internally, with fresh expression ids). */
  private def deResolve(e: Expression): Expression = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail("subqueries are not supported in graft UPDATE/MERGE " +
        "statements — materialize the subquery into the source first")
    e.transform { case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name) }
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u: UpdateTable if u.resolved && targetOf(u.table).isDefined =>
      val (flavor, path) = targetOf(u.table).get
      val all = u.assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail("graft UPDATE supports only top-level " +
            s"column assignments, got ${other.sql}")
        }
        (name, a)
      }
      // the analyzer aligns assignments to the full column list with
      // identity self-assignments — drop those, keep the real ones
      val real = all.filterNot { case (_, a) => (a.key, stripCast(a.value)) match {
        case (k: AttributeReference, v: AttributeReference) => k.exprId == v.exprId
        case _ => false
      }}
      val effective = if (real.nonEmpty) real else all
      // carried as Columns, not Expressions: the command's payload is
      // re-resolved by the library over its own table frame, so it
      // must ride OPAQUE to this plan's CheckAnalysis
      GraftUpdateCommand(flavor, path,
        effective.map { case (n, a) =>
          (n, ColumnBridge.column(deResolve(a.value))) },
        u.condition.map(c => ColumnBridge.column(deResolve(c))))

    case m: MergeIntoTable if m.resolved && targetOf(m.targetTable).isDefined =>
      val (flavor, path) = targetOf(m.targetTable).get
      val unsupported = "graft MERGE INTO supports an ON condition of " +
        "same-named equality conjuncts (at least one, the join anchor) " +
        "plus optional non-equi residual conjuncts, with ordered " +
        "(first-match-wins) clauses: WHEN MATCHED [AND …] (UPDATE SET … " +
        "/ DELETE, several allowed), WHEN NOT MATCHED [AND …] (INSERT * " +
        "or INSERT (cols) VALUES (exprs)), WHEN NOT MATCHED BY SOURCE " +
        "[AND …] (UPDATE SET … / DELETE, several allowed) — got "
      val tgtOut = AttributeSet(m.targetTable.output)
      val srcOut = AttributeSet(m.sourceTable.output)

      def fullRowFromSource(asg: Seq[Assignment]): Boolean =
        asg.size == m.targetTable.output.size && asg.forall { a =>
          (a.key, stripCast(a.value)) match {
            case (k: AttributeReference, v: AttributeReference) =>
              srcOut.contains(v) && k.name.equalsIgnoreCase(v.name)
            case _ => false
          }
        }
      // matched-frame expressions: target columns by plain name,
      // source columns as __src_<name> ([[MergeSpec]] contract)
      def rewriteJoined(e: Expression): Expression = {
        if (e.exists(_.isInstanceOf[SubqueryExpression]))
          fail("subqueries are not supported in graft MERGE clauses — " +
            "materialize the subquery into the source first")
        e.transform {
          case ar: AttributeReference if srcOut.contains(ar) =>
            UnresolvedAttribute.quoted(MergeSpec.SrcPrefix + ar.name)
          case ar: AttributeReference =>
            UnresolvedAttribute.quoted(ar.name)
        }
      }
      // BY SOURCE expressions evaluate over the TARGET frame alone
      // (there is no matched source row)
      def rewriteTarget(e: Expression): Expression = {
        if (e.exists(_.isInstanceOf[SubqueryExpression]))
          fail("subqueries are not supported in graft MERGE clauses — " +
            "materialize the subquery into the source first")
        e.transform {
          case ar: AttributeReference if srcOut.contains(ar) =>
            fail("a WHEN NOT MATCHED BY SOURCE clause cannot reference " +
              s"the source table (there is no matched source row): ${ar.name}")
          case ar: AttributeReference =>
            UnresolvedAttribute.quoted(ar.name)
        }
      }
      // insert-clause expressions evaluate over the SOURCE frame alone
      def rewriteSource(e: Expression): Expression = {
        if (e.exists(_.isInstanceOf[SubqueryExpression]))
          fail("subqueries are not supported in graft MERGE clauses — " +
            "materialize the subquery into the source first")
        e.transform {
          case ar: AttributeReference if srcOut.contains(ar) =>
            UnresolvedAttribute.quoted(ar.name)
          case ar: AttributeReference if tgtOut.contains(ar) =>
            fail("a WHEN NOT MATCHED condition cannot reference the " +
              s"target table (there is no matched target row): ${ar.name}")
        }
      }
      // the ON condition splits into same-named EQUALITY conjuncts
      // (the scalable join anchor) and residual NON-EQUI conjuncts
      // (evaluated over the joined match frame — `ON t.k = s.k AND
      // t.ts < s.ts`); at least one equality key is required
      val (keyConjs, extraConjs) = DeltaLog.conjuncts(m.mergeCondition)
        .partitionMap { c =>
          c match {
            case EqualTo(l, r) =>
              (stripCast(l), stripCast(r)) match {
                case (a: AttributeReference, b: AttributeReference)
                  if tgtOut.contains(a) && srcOut.contains(b) &&
                    a.name.equalsIgnoreCase(b.name) => Left(a.name)
                case (a: AttributeReference, b: AttributeReference)
                  if tgtOut.contains(b) && srcOut.contains(a) &&
                    a.name.equalsIgnoreCase(b.name) => Left(b.name)
                case _ => Right(c)
              }
            case other => Right(other)
          }
        }
      val keyCols = keyConjs
      if (keyCols.isEmpty)
        fail(unsupported + s"merge condition ${m.mergeCondition.sql} — " +
          "at least one same-named equality conjunct is required as the " +
          "join anchor")
      val extraOn: Option[org.apache.spark.sql.Column] =
        extraConjs.map(rewriteJoined).reduceOption(EAnd(_, _))
          .map(ColumnBridge.column)
      // FAST PATH: the plain keyed upsert keeps its dedicated command
      // (no match frame, whole source appended in one pass)
      val plainUpsert = m.notMatchedBySourceActions.isEmpty &&
        extraOn.isEmpty && // non-equi ON changes match semantics
        ((m.matchedActions, m.notMatchedActions) match {
          case (Seq(UpdateAction(None, asg, _)), Seq(InsertAction(None, ins))) =>
            fullRowFromSource(asg) && fullRowFromSource(ins)
          case _ => false
        })
      if (plainUpsert) GraftMergeCommand(flavor, path, m.sourceTable, keyCols)
      else {
        // one (cond, delete, assignments) triple per clause, in
        // DECLARATION ORDER — the flavors apply them first-match-wins
        def clauseOf(action: Any,
                     rewrite: Expression => Expression,
                     what: String): (Option[org.apache.spark.sql.Column],
          Boolean, Seq[(String, org.apache.spark.sql.Column)]) =
          action match {
            case UpdateAction(condOpt, asg, _) =>
              // the analyzer may align to the full column list with
              // identity self-assignments — drop those
              val real = asg.filterNot(a => (a.key, stripCast(a.value)) match {
                case (k: AttributeReference, v: AttributeReference) =>
                  k.exprId == v.exprId
                case _ => false
              })
              val effective = if (real.nonEmpty) real else asg
              val pairs = effective.map { a =>
                val name = a.key match {
                  case ar: AttributeReference => ar.name
                  case other => fail("graft MERGE supports only top-level " +
                    s"column assignments, got ${other.sql}")
                }
                name -> ColumnBridge.column(rewrite(a.value))
              }
              (condOpt.map(c => ColumnBridge.column(rewrite(c))),
                false, pairs)
            case org.apache.spark.sql.catalyst.plans.logical.DeleteAction(condOpt) =>
              (condOpt.map(c => ColumnBridge.column(rewrite(c))),
                true, Seq.empty)
            case other => fail(unsupported + s"$what action $other")
          }
        val matchedSpecs = m.matchedActions.map(
          clauseOf(_, rewriteJoined, "matched"))
        // ordered INSERT clauses: `INSERT *` rides with EMPTY
        // assignments (full row from same-named source columns);
        // explicit `INSERT (cols) VALUES (exprs)` carries one
        // source-frame expression per target column
        val insertSpecs: Seq[(Option[org.apache.spark.sql.Column], Seq[(String, org.apache.spark.sql.Column)])] =
          m.notMatchedActions.map {
            case InsertAction(condOpt, asg) =>
              val pairs =
                if (fullRowFromSource(asg)) Seq.empty
                else asg.map { a =>
                  val name = a.key match {
                    case ar: AttributeReference => ar.name
                    case other => fail("graft MERGE supports only " +
                      s"top-level column assignments, got ${other.sql}")
                  }
                  name -> ColumnBridge.column(rewriteSource(a.value))
                }
              (condOpt.map(c => ColumnBridge.column(rewriteSource(c))),
                pairs)
            case other => fail(unsupported + s"not-matched action $other")
          }
        val bySourceSpecs = m.notMatchedBySourceActions.map(
          clauseOf(_, rewriteTarget, "not-matched-by-source"))
        GraftMergeFlexCommand(flavor, path, m.sourceTable, keyCols,
          matchedSpecs, insertSpecs, bySourceSpecs, extraOn)
      }
  }
}

/** Routed `UPDATE`: assignments/condition carried as BY-NAME Columns
  * (the library call re-resolves them over its own table frame);
  * dispatched to the flavor's committing implementation. */
case class GraftUpdateCommand(flavor: Flavor, tablePath: String,
                              assignments: Seq[(String, org.apache.spark.sql.Column)],
                              condition: Option[org.apache.spark.sql.Column])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val pred = condition.getOrElse(lit(true))
    val v = flavor match {
      case DeltaFlavor =>
        DeltaLog.update(spark, tablePath, pred, assignments.toMap)
      case IcebergFlavor =>
        IcebergTable.update(spark, tablePath, pred, assignments.toMap)
    }
    Seq(Row(v))
  }
}

/** Routed keyed-upsert `MERGE INTO`: the analyzed source plan rides
  * along and becomes the merge source frame at execution; dispatched
  * to the flavor's committing implementation. */
case class GraftMergeCommand(flavor: Flavor, tablePath: String,
                             source: LogicalPlan,
                             keyCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = ColumnBridge.ofRows(spark, source)
    val v = flavor match {
      case DeltaFlavor => DeltaLog.merge(spark, tablePath, src, keyCols)
      case IcebergFlavor => IcebergTable.merge(spark, tablePath, src, keyCols)
    }
    Seq(Row(v))
  }
}

/** Routed FLEXIBLE `MERGE INTO` (ordered conditional / partial
  * matched UPDATE / DELETE clauses, conditional INSERT, BY SOURCE
  * clauses) — the clause payload rides as by-name Columns per the
  * [[MergeSpec]] contract (first-match-wins order preserved) and is
  * dispatched to the flavor's one-commit `mergeFlexible`. */
case class GraftMergeFlexCommand(flavor: Flavor, tablePath: String,
                                 source: LogicalPlan, keyCols: Seq[String],
                                 matchedSpec: Seq[(Option[org.apache.spark.sql.Column], Boolean, Seq[(String, org.apache.spark.sql.Column)])],
                                 insertSpec: Seq[(Option[org.apache.spark.sql.Column], Seq[(String, org.apache.spark.sql.Column)])],
                                 bySourceSpec: Seq[(Option[org.apache.spark.sql.Column], Boolean, Seq[(String, org.apache.spark.sql.Column)])] = Seq.empty,
                                 extraOn: Option[org.apache.spark.sql.Column] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = ColumnBridge.ofRows(spark, source)
    val matched = matchedSpec.map { case (cond, del, asg) =>
      MergeSpec.Matched(cond, del, asg) }
    val notMatched = insertSpec.map { case (cond, asg) =>
      MergeSpec.NotMatched(cond, asg) }
    val bySource = bySourceSpec.map { case (cond, del, asg) =>
      MergeSpec.NotMatchedBySource(cond, del, asg) }
    val v = flavor match {
      case DeltaFlavor =>
        DeltaLog.mergeFlexible(spark, tablePath, src, keyCols, matched,
          notMatched, bySource, extraOn = extraOn)
      case IcebergFlavor =>
        IcebergTable.mergeFlexible(spark, tablePath, src, keyCols, matched,
          notMatched, bySource, extraOn)
    }
    Seq(Row(v))
  }
}
