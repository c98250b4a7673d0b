package graft.plans

import java.util.Locale

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

/** SQL surface for the lakehouse MAINTENANCE verbs — the statements a
  * Delta/Iceberg operator types that no stock-Spark grammar carries:
  *
  * {{{
  * OPTIMIZE tbl                            -- incremental bin-pack (small files + DV'd rewrites)
  * OPTIMIZE tbl ZORDER BY (c1, c2)         -- full z-curve re-layout
  * VACUUM tbl [RETAIN n VERSIONS] [DRY RUN]
  * DESCRIBE HISTORY tbl / DESCRIBE DETAIL tbl
  * RESTORE TABLE tbl TO VERSION AS OF n
  * RESTORE TABLE tbl TO TIMESTAMP AS OF '2026-01-01 00:00:00'
  * CONVERT TO GRAFT parquet.`/path`    -- in-place adoption, zero bytes rewritten
  * }}}
  *
  * `tbl` is a catalog table (`USING graft`) or an explicit path in
  * Delta's spelling: {{{OPTIMIZE graft.`/data/events`}}}.
  *
  * Design notes (mirrors `GraftInserts`'s stance):
  *  - The parser DELEGATES: every statement whose leading keyword is
  *    not one of ours goes verbatim to Spark's own parser — the graft
  *    grammar is additive, never shadowing. Spark has no OPTIMIZE /
  *    VACUUM / RESTORE / DESCRIBE HISTORY statement, so nothing valid
  *    is intercepted.
  *  - Once the leading keyword IS ours, a malformed remainder throws a
  *    [[ParseException]] NAMING the supported grammar instead of
  *    falling through to Spark (whose "syntax error at OPTIMIZE" would
  *    hide that the statement was one typo from working).
  *  - Table-name → path resolution happens at RUN time in the command
  *    (the catalog may change between parse and execution; Delta's
  *    commands resolve late for the same reason), and commands that
  *    commit a new version refresh the catalog relation cache so the
  *    next `SELECT` sees the new head — same discipline as the DML
  *    commands in `GraftInserts`.
  *  - Retention is VERSION-count based (`RETAIN n VERSIONS`), not
  *    hours: graft's vacuum keeps the newest N versions
  *    ([[SnapshotTable.vacuum]]), so the SQL mirrors the engine's real
  *    contract instead of translating hours approximately. `DRY RUN`
  *    surfaces [[SnapshotTable.vacuumPlan]] — the pre-flight a
  *    scheduler runs against its streams' checkpoint lag BEFORE data
  *    becomes unreachable.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlMaintenance.parse(sqlText, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

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
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlMaintenance {

  /** The maintenance target as written: either an explicit path
    * (`graft.`/p``) or a catalog table name, resolved at RUN time. */
  sealed trait Target
  case class PathTarget(path: String) extends Target
  case class TableTarget(parts: Seq[String]) extends Target

  private val DescHistoryRe = """(?is)DESC(?:RIBE)?\s+HISTORY\s+(.+)""".r
  private val DescDetailRe = """(?is)DESC(?:RIBE)?\s+DETAIL\s+(.+)""".r

  def parse(sqlText: String, delegate: ParserInterface)
      : Option[LogicalPlan] = {
    val s = sqlText.trim.stripSuffix(";").trim
    // this sits on EVERY statement's parse path: decide on an
    // uppercased 9-char prefix, never a full-text copy (a multi-KB
    // SELECT must not pay for grammar it cannot match)
    val head = s.substring(0, math.min(s.length, 9))
      .toUpperCase(Locale.ROOT)
    def rest(prefixLen: Int) = s.substring(prefixLen).trim
    if (head.startsWith("OPTIMIZE "))
      Some(parseOptimize(rest(9), delegate, sqlText))
    else if (head.startsWith("VACUUM "))
      Some(parseVacuum(rest(7), delegate, sqlText))
    else if (head.startsWith("DESCRIBE ") || head.startsWith("DESC "))
      s match {
        // only DESCRIBE HISTORY/DETAIL are ours; every other DESCRIBE
        // (and a table actually named `history` with nothing after)
        // delegates
        case DescHistoryRe(target) => Some(GraftDescribeHistoryCommand(
          parseTarget(target, delegate, sqlText)))
        case DescDetailRe(target) => Some(GraftDescribeDetailCommand(
          parseTarget(target, delegate, sqlText)))
        case _ => None
      }
    else if (head.startsWith("RESTORE "))
      Some(parseRestore(rest(8), delegate, sqlText))
    else if (head.startsWith("CONVERT "))
      Some(parseConvert(rest(8), delegate, sqlText))
    else None
  }

  private val ConvertRe = """(?is)TO\s+GRAFT\s+(.+)""".r
  private def parseConvert(rest: String, delegate: ParserInterface,
      sqlText: String): LogicalPlan = rest match {
    case ConvertRe(target) =>
      val parts =
        try delegate.parseMultipartIdentifier(target.trim)
        catch { case _: ParseException =>
          fail(sqlText, s"cannot parse CONVERT target '${target.trim}'") }
      parts match {
        case Seq(fmt, p) if fmt.equalsIgnoreCase("parquet") &&
          (p.contains("/") || p.contains("\\")) =>
          GraftConvertCommand(Left(p))
        case tbl if tbl.length <= 3 => GraftConvertCommand(Right(tbl))
        case _ => fail(sqlText,
          "CONVERT TO GRAFT takes a parquet directory " +
            "(CONVERT TO GRAFT parquet.`/path`) or a catalog " +
            "parquet table (CONVERT TO GRAFT db.tbl)")
      }
    case _ => fail(sqlText, "cannot parse CONVERT statement")
  }

  /** A statement whose LEADING keyword is ours but whose remainder is
    * malformed throws here — naming the full supported grammar —
    * instead of delegating to Spark, whose "syntax error at OPTIMIZE"
    * would hide that the statement was one typo from working. Uses the
    * standard PARSE_SYNTAX_ERROR error class so tooling that catches
    * [[ParseException]] keeps working. */
  private def fail(sqlText: String, what: String): Nothing =
    throw new ParseException(
      Option(sqlText),
      org.apache.spark.sql.catalyst.trees.Origin(),
      "PARSE_SYNTAX_ERROR",
      Map(
        "error" -> s"'$what'",
        "hint" -> s""". Supported graft maintenance grammar:
           |  OPTIMIZE <tbl> [ZORDER BY (c1, c2, ...)]
           |  VACUUM <tbl> [RETAIN <n> VERSIONS] [DRY RUN]
           |  DESCRIBE HISTORY <tbl> / DESCRIBE DETAIL <tbl>
           |  RESTORE TABLE <tbl> TO VERSION AS OF <n>
           |  RESTORE TABLE <tbl> TO TIMESTAMP AS OF '<ts>'
           |  CONVERT TO GRAFT parquet.`/path`
           |where <tbl> is a catalog table or graft.`/path`""".stripMargin))

  private def parseTarget(text: String, delegate: ParserInterface,
      sqlText: String): Target = {
    val parts =
      try delegate.parseMultipartIdentifier(text.trim)
      catch { case _: ParseException =>
        fail(sqlText, s"cannot parse maintenance target '${text.trim}'") }
    parts match {
      case Seq(g, p) if g.equalsIgnoreCase("graft") &&
        (p.contains("/") || p.contains("\\")) => PathTarget(p)
      case _ => TableTarget(parts)
    }
  }

  private val ZOrderRe = """(?is)(.+?)\s+ZORDER\s+BY\s+(.+)""".r
  private val IdentRe = """[A-Za-z_][A-Za-z0-9_]*""".r
  private def parseOptimize(rest: String, delegate: ParserInterface,
      sqlText: String): LogicalPlan = rest match {
    case ZOrderRe(target, colsRaw) =>
      // the column list: `(c1, c2)` or bare `c1, c2`; every token must
      // be an identifier — a lax capture here would silently accept
      // `ZORDER BY ()` with `)` as a "column"
      val c = colsRaw.trim
      val body =
        if (c.startsWith("(") && c.endsWith(")"))
          c.substring(1, c.length - 1)
        else if (c.startsWith("(") || c.endsWith(")")) {
          fail(sqlText, s"unbalanced parentheses in ZORDER BY $c")
        } else c
      val zCols = body.split(",").toSeq.map(_.trim.stripPrefix("`")
        .stripSuffix("`").trim).filter(_.nonEmpty)
      if (zCols.isEmpty || !zCols.forall(IdentRe.matches))
        fail(sqlText,
          s"ZORDER BY needs a non-empty column list, got '$c'")
      GraftOptimizeCommand(parseTarget(target, delegate, sqlText), zCols)
    case t => GraftOptimizeCommand(parseTarget(t, delegate, sqlText), Nil)
  }

  private val VacuumRe =
    """(?is)(.+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?(\s+DRY\s+RUN)?\s*""".r
  private def parseVacuum(rest: String, delegate: ParserInterface,
      sqlText: String): LogicalPlan = rest match {
    case VacuumRe(target, retain, dry) =>
      GraftVacuumCommand(parseTarget(target, delegate, sqlText),
        Option(retain).map(_.toInt), dryRun = dry != null)
    case _ => fail(sqlText, "cannot parse VACUUM statement")
  }

  private val RestoreVersionRe =
    """(?is)TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RestoreTimestampRe =
    """(?is)TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*""".r
  private def parseRestore(rest: String, delegate: ParserInterface,
      sqlText: String): LogicalPlan = rest match {
    case RestoreVersionRe(target, v) =>
      GraftRestoreCommand(parseTarget(target, delegate, sqlText),
        Some(v.toInt), None)
    case RestoreTimestampRe(target, ts) =>
      GraftRestoreCommand(parseTarget(target, delegate, sqlText),
        None, Some(ts))
    case _ => fail(sqlText, "cannot parse RESTORE statement")
  }

  /** Run-time target resolution: a path target is itself; a table
    * target must be a `USING graft` catalog table (anything else —
    * a view, a parquet table — refuses loudly naming the provider:
    * running graft maintenance over a directory the manifest protocol
    * does not own would at best fail confusingly, at worst delete
    * live files). Returns the path plus the identifier to refresh. */
  private[plans] def resolve(spark: SparkSession, target: Target)
      : (String, Option[TableIdentifier]) = target match {
    case PathTarget(p) => (p, None)
    case TableTarget(parts) =>
      val ident = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case Seq(cat, db, t) => TableIdentifier(t, Some(db), Some(cat))
        case _ => sys.error(
          s"maintenance target has too many name parts: ${parts.mkString(".")}")
      }
      val cat = spark.sessionState.catalog
      require(!cat.isTempView(parts),
        s"${parts.mkString(".")} is a view; graft maintenance needs a " +
          "`USING graft` table or an explicit graft.`/path`")
      val meta = cat.getTableMetadata(ident)
      require(meta.provider.exists(_.equalsIgnoreCase("graft")),
        s"${ident.unquotedString} is not a graft table (provider " +
          s"${meta.provider.getOrElse("none")}); refusing maintenance " +
          "that assumes the manifest protocol")
      (meta.location.toString.stripPrefix("file:"), Some(ident))
  }

  private[plans] def refresh(spark: SparkSession, path: String,
      table: Option[TableIdentifier]): Unit = {
    table.foreach(t => spark.sessionState.catalog.refreshTable(t))
    spark.catalog.refreshByPath(path)
  }

  private[plans] def attr(name: String, dt: DataType): Attribute =
    AttributeReference(name, dt, nullable = true)()
}

/** `OPTIMIZE tbl [ZORDER BY (...)]` — plain form runs the INCREMENTAL
  * bin-pack ([[SnapshotTable.optimizeIncremental]]: only small files
  * and DV-masked files rewrite; a fully-compacted table is a no-op
  * committing NOTHING, which the result row reports as a null
  * version). The ZORDER form is the full re-layout
  * ([[SnapshotTable.optimizeZOrder]] — partition-aware z-curve).
  * Target file size is a fixed 128 MiB (small tables simply land one
  * file). */
case class GraftOptimizeCommand(target: GraftSqlMaintenance.Target,
    zCols: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] = Seq(
    attr("path", StringType), attr("operation", StringType),
    attr("version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, table) = GraftSqlMaintenance.resolve(spark, target)
    val targetBytes = 128L * 1024 * 1024
    val (op, version) =
      if (zCols.nonEmpty)
        ("OPTIMIZE-ZORDER",
          Some(SnapshotTable.optimizeZOrder(spark, path, zCols, targetBytes)))
      else
        ("OPTIMIZE",
          SnapshotTable.optimizeIncremental(spark, path, targetBytes))
    if (version.isDefined) GraftSqlMaintenance.refresh(spark, path, table)
    Seq(Row(path, op, version.orNull))
  }
}

/** `VACUUM tbl [RETAIN n VERSIONS] [DRY RUN]` — drop all but the
  * newest n (default 2) versions and reclaim unreferenced files.
  * DRY RUN returns the versions a real vacuum would drop right now,
  * deleting nothing — the scheduler pre-flight. Unreferenced files
  * younger than [[SnapshotTable.vacuum]]'s default 10-minute grace
  * window survive (they may belong to an in-flight writer). */
case class GraftVacuumCommand(target: GraftSqlMaintenance.Target,
    retain: Option[Int], dryRun: Boolean) extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] =
    if (dryRun) Seq(attr("version_to_drop", IntegerType))
    else Seq(attr("path", StringType), attr("files_deleted", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, table) = GraftSqlMaintenance.resolve(spark, target)
    val keep = retain.getOrElse(2)
    if (dryRun)
      SnapshotTable.vacuumPlan(spark, path, keep).map(v => Row(v))
    else {
      val n = SnapshotTable.vacuum(spark, path, keep)
      GraftSqlMaintenance.refresh(spark, path, table)
      Seq(Row(path, n))
    }
  }
}

/** `DESCRIBE HISTORY tbl` — one row per retained commit, newest
  * first: (version, timestamp, operation, n_files). Pure metadata
  * ([[SnapshotTable.history]]); no data I/O. */
case class GraftDescribeHistoryCommand(target: GraftSqlMaintenance.Target)
  extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("timestamp", TimestampType),
    attr("operation", StringType), attr("n_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = GraftSqlMaintenance.resolve(spark, target)
    SnapshotTable.history(spark, path).collect().toSeq
  }
}

/** `RESTORE TABLE tbl TO VERSION|TIMESTAMP AS OF x` — republish a
  * past version as the new head ([[SnapshotTable.restore]]: by
  * reference, with the inverted meta rewind). Timestamps resolve via
  * the same session-zone parse as `timestampAsOf` reads. */
case class GraftRestoreCommand(target: GraftSqlMaintenance.Target,
    version: Option[Int], timestamp: Option[String])
  extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] = Seq(
    attr("path", StringType), attr("restored_version", IntegerType),
    attr("new_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, table) = GraftSqlMaintenance.resolve(spark, target)
    val v = version.getOrElse {
      val ts = SnapshotTable.parseTimestampOption(spark, timestamp.get)
      SnapshotTable.versionAsOf(spark, path, ts)
    }
    val newV = SnapshotTable.restore(spark, path, v)
    GraftSqlMaintenance.refresh(spark, path, table)
    Seq(Row(path, v, newV))
  }
}

/** `CONVERT TO GRAFT parquet.`/path`` / `CONVERT TO GRAFT db.tbl` —
  * adopt a plain parquet directory (or a catalog parquet table) in
  * place ([[SnapshotTable.convert]]: distributed footer harvest,
  * version 0 references the existing files, zero bytes rewritten).
  * The catalog form additionally FLIPS the table's provider to graft
  * (partition columns leave the catalog record — graft carries the
  * layout in the log meta) so every later SELECT/DML/maintenance
  * statement resolves through the manifest. Non-parquet providers
  * refuse: the footer harvest is parquet-specific. */
case class GraftConvertCommand(target: Either[String, Seq[String]])
  extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] = Seq(
    attr("path", StringType), attr("version", IntegerType),
    attr("num_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target match {
      case Left(p) => p
      case Right(parts) =>
        val cat = spark.sessionState.catalog
        require(!cat.isTempView(parts),
          s"${parts.mkString(".")} is a view; CONVERT TO GRAFT needs " +
            "a parquet table or directory")
        val ident = parts match {
          case Seq(t) => TableIdentifier(t)
          case Seq(db, t) => TableIdentifier(t, Some(db))
          case Seq(c, db, t) => TableIdentifier(t, Some(db), Some(c))
        }
        val meta = cat.getTableMetadata(ident)
        require(meta.provider.exists(_.equalsIgnoreCase("parquet")),
          s"CONVERT TO GRAFT: ${ident.unquotedString} has provider " +
            s"${meta.provider.getOrElse("none")}; only parquet tables " +
            "convert (the footer harvest is parquet-specific)")
        meta.location.toString.stripPrefix("file:")
    }
    val v = SnapshotTable.convert(spark, path)
    target.foreach { parts =>
      val cat = spark.sessionState.catalog
      val ident = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case Seq(c, db, t) => TableIdentifier(t, Some(db), Some(c))
      }
      val meta = cat.getTableMetadata(ident)
      // provider flips; partition columns leave the catalog record
      // (graft resolves layout from the log meta — GraftAlterSync
      // requires catalog-partitionless graft tables); schema stays,
      // Spark re-reads it through the graft relation from here on
      cat.alterTable(meta.copy(
        provider = Some("graft"),
        partitionColumnNames = Seq.empty))
      cat.refreshTable(ident)
    }
    spark.catalog.refreshByPath(path)
    Seq(Row(path, v, SnapshotTable.fileCount(spark, path)))
  }
}

/** `DESCRIBE DETAIL tbl` — one-row summary (head version, retained
  * versions, files, referenced bytes, layout, last commit/op). Pure
  * metadata ([[SnapshotTable.detail]]). */
case class GraftDescribeDetailCommand(target: GraftSqlMaintenance.Target)
  extends LeafRunnableCommand {
  import GraftSqlMaintenance._
  override val output: Seq[Attribute] = Seq(
    attr("path", StringType), attr("version", IntegerType),
    attr("num_versions", IntegerType), attr("num_files", IntegerType),
    attr("size_bytes", LongType),
    attr("partition_columns", StringType),
    attr("last_commit_at", TimestampType),
    attr("last_operation", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = GraftSqlMaintenance.resolve(spark, target)
    SnapshotTable.detail(spark, path).collect().toSeq
  }
}
