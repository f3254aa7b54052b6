package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.Row

/**
 * Table-maintenance statements Spark's grammar does not have, grafted
 * on with the public parser-extension pattern (the same bolt-on Delta
 * Lake uses for these exact two verbs): intercept the statement text,
 * hand EVERYTHING else to the delegate parser verbatim.
 *
 *  - `OPTIMIZE <view>` — snapshot compaction: rebuild every partition
 *    index fresh and checkpoint-cut the RDD lineage, so reads of the
 *    current version stop re-playing the copy-on-write delta chain
 *    the SQL-text DML statements stacked up
 *    ([[IndexedFrame.Handle.compacted]]). Records a new chain version
 *    whose content is identical (`graft_changes` across an OPTIMIZE
 *    boundary is empty). Returns one metrics row.
 *  - `VACUUM <view> [RETAIN <n> VERSIONS]` — drop all but the newest
 *    n versions (default 1) from the view's time-travel chain.
 *    Version numbers never renumber: retained versions keep working,
 *    dropped ones fail exactly like Delta's "version no longer
 *    exists". OPTIMIZE first, then VACUUM, is the memory-reclaim
 *    path: compaction detaches the current version from ancestor
 *    lineage, so vacuuming the chain makes the old snapshots (and
 *    their cached blocks, via ContextCleaner) unreachable.
 *
 * Both operate on graft-indexed temp views registered the usual way
 * (`handle.toDF.createOrReplaceTempView(name)`); OPTIMIZE of any
 * other name raises a clean error, VACUUM of a never-DML'd view is a
 * no-op like Delta's VACUUM of a fresh table.
 */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case OptimizeZOrderRe(id, colList) =>
      GraftOptimizeCommand(unquote(id),
        Some(colList.split(",").toSeq.map(c => unquote(c.trim))))
    case OptimizeRe(id) => GraftOptimizeCommand(unquote(id))
    case OptimizeReindexRe(id, idx) =>
      GraftReindexCommand(unquote(id), unquote(idx))
    case GenerateManifestRe(id, dest, auto) =>
      GraftGenerateManifestCommand(unquote(id), dest, auto != null)
    case VacuumRe(id, n, unit) =>
      val hours = unit != null && unit.toUpperCase.startsWith("HOUR")
      val retain = if (n == null) 1 else n.toInt
      require(hours || retain >= 1, "VACUUM must retain at least 1 version")
      require(!hours || retain >= 0, "VACUUM retention hours must be >= 0")
      GraftVacuumCommand(unquote(id), retain, hours)
    case RestoreVerRe(id, v) =>
      GraftRestoreCommand(unquote(id), Left(v.toLong))
    case RestoreTsRe(id, ts) =>
      GraftRestoreCommand(unquote(id), Right(ts))
    case DescribeHistoryRe(id) =>
      delegate.parsePlan(s"SELECT * FROM graft_history('${unquote(id)}')")
    case DescribeDetailRe(id) =>
      GraftDescribeDetailCommand(unquote(id))
    case ExportRe(id, dest) =>
      GraftExportCommand(unquote(id), dest)
    case CloneRe(target, source, v, location) =>
      GraftCloneCommand(unquote(target), unquote(source),
        Option(v).map(_.toLong), location)
    case AlterAddConstraintRe(id, name, expr) =>
      // validate the expression parses NOW (parse errors belong to the
      // statement, not to the first write it would gate)
      delegate.parseExpression(expr)
      GraftConstraintCommand(unquote(id), unquote(name), Some(expr),
        scala.util.Try(delegate.parsePlan(sqlText)).toOption)
    case AlterDropConstraintRe(id, name) =>
      GraftConstraintCommand(unquote(id), unquote(name), None,
        scala.util.Try(delegate.parsePlan(sqlText)).toOption)
    case AlterRenameColRe(id, o, n) =>
      GraftAlterEvolveCommand(unquote(id),
        GraftTables.SchemaChange.Rename(unquote(o), unquote(n)),
        delegate.parsePlan(sqlText))
    case AlterDropColRe(id, c) =>
      GraftAlterEvolveCommand(unquote(id),
        GraftTables.SchemaChange.Drop(unquote(c)),
        delegate.parsePlan(sqlText))
    case AlterColTypeRe(id, c, t) =>
      GraftAlterEvolveCommand(unquote(id),
        GraftTables.SchemaChange.Widen(unquote(c), delegate.parseDataType(t)),
        delegate.parsePlan(sqlText))
    case AlterAddRe(id, parenCols, bareCol) =>
      val colsText = if (parenCols != null) parenCols else bareCol
      val cols = splitTopLevel(colsText).map { entry =>
        val trimmed = entry.trim
        val (name, typeText) = trimmed.split("\\s+", 2) match {
          case Array(n, t) => (unquote(n), t)
          case _ => throw new IllegalArgumentException(
            s"ALTER TABLE ADD COLUMNS: cannot parse column '$trimmed' " +
              "(expected <name> <type>)")
        }
        (name, delegate.parseDataType(typeText))
      }
      // non-graft tables run Spark's own ALTER unchanged (parsed now,
      // executed only if the target is not a graft table)
      GraftAlterAddColumnsCommand(unquote(id), cols,
        delegate.parsePlan(sqlText))
    case _ => delegate.parsePlan(sqlText)
  }

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

object GraftSqlParser {
  // one plain or backquoted identifier; statements are whole-text
  // matches so anything more complex (qualified names, options we do
  // not implement) falls through to Spark's parser and errors there
  private val Ident = "(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
  private val OptimizeRe = s"(?is)\\s*OPTIMIZE\\s+$Ident\\s*;?\\s*".r
  // Delta's `OPTIMIZE t ZORDER BY (a, b, ...)` — N >= 2 dimensions
  // (composite-key tables re-cluster the primary along the rank-space
  // z curve; a two-VALUE-column list materializes a sort projection)
  private val IdentNC = "(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
  private val OptimizeZOrderRe =
    (s"(?is)\\s*OPTIMIZE\\s+$Ident\\s+ZORDER\\s+BY\\s*" +
      s"\\(\\s*($IdentNC(?:\\s*,\\s*$IdentNC)+)\\s*\\)\\s*;?\\s*").r
  // `OPTIMIZE t REINDEX e` — retrain the named vector index on the
  // live content (the distribution-drift remedy; plain OPTIMIZE
  // compacts lists but never retrains)
  private val OptimizeReindexRe =
    s"(?is)\\s*OPTIMIZE\\s+$Ident\\s+REINDEX\\s+$Ident\\s*;?\\s*".r
  // Delta's `GENERATE symlink_format_manifest FOR TABLE t` shape, with
  // an explicit TO (the graft base layout is not parquet, so the
  // manifest points at an incrementally-maintained parquet mirror)
  private val GenerateManifestRe =
    (s"(?is)\\s*GENERATE\\s+(?:SYMLINK_FORMAT_)?MANIFEST\\s+FOR\\s+" +
      s"(?:TABLE\\s+)?$Ident\\s+TO\\s+'([^']+)'" +
      "(\\s+WITH\\s+AUTO\\s+REFRESH)?\\s*;?\\s*").r
  private val VacuumRe =
    s"(?is)\\s*VACUUM\\s+$Ident(?:\\s+RETAIN\\s+(\\d+)\\s+(VERSIONS?|HOURS?))?\\s*;?\\s*".r
  // Delta's RESTORE grammar: `RESTORE [TABLE] t TO VERSION AS OF n`
  // and the wall-clock twin with a quoted timestamp literal
  private val RestoreVerRe =
    s"(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*".r
  private val RestoreTsRe =
    s"(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*".r
  // `ALTER TABLE t ADD COLUMN(S) (c1 T1, c2 T2)` or the bare
  // single-column form without parens (both Delta-accepted shapes)
  private val AlterAddRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+ADD\\s+COLUMNS?\\s*" +
      "(?:\\((.+)\\)|([^(][^;]*?))\\s*;?\\s*").r
  // phase-2 evolution verbs (Spark/Delta grammar shapes): RENAME
  // COLUMN a TO b, DROP COLUMN c, ALTER COLUMN c TYPE t
  private val AlterRenameColRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+RENAME\\s+COLUMN\\s+" +
      s"$Ident\\s+TO\\s+$Ident\\s*;?\\s*").r
  private val AlterDropColRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+COLUMN\\s+" +
      s"$Ident\\s*;?\\s*").r
  private val AlterColTypeRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+ALTER\\s+COLUMN\\s+" +
      s"$Ident\\s+TYPE\\s+([^;]+?)\\s*;?\\s*").r
  // Delta's operator-facing DESCRIBE verbs: HISTORY (the graft_history
  // TVF as a statement) and DETAIL (one metadata row)
  private val DescribeHistoryRe =
    s"(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$Ident\\s*;?\\s*".r
  // plain-Spark interop: materialize the CURRENT content as ordinary
  // parquet any session can read without the graft extension (the
  // "other team's notebook" path — Delta's analog is the stale-parquet
  // degrade; an explicit verb beats silently-stale files)
  private val ExportRe =
    s"(?is)\\s*EXPORT\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+'([^']+)'\\s*;?\\s*".r
  private val DescribeDetailRe =
    s"(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$Ident\\s*;?\\s*".r
  // Delta's CLONE verb: materialize a snapshot (current or VERSION AS
  // OF) of one graft table as a NEW independent table. SHALLOW is
  // accepted as an alias of DEEP — the clone always owns its files
  // (our base layout rewrites per save; no cross-table file
  // bookkeeping to dangle when the source VACUUMs)
  private val CloneRe =
    (s"(?is)\\s*CREATE\\s+TABLE\\s+$Ident\\s+(?:(?:SHALLOW|DEEP)\\s+)?CLONE\\s+" +
      s"$Ident(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?" +
      "\\s+LOCATION\\s+'([^']+)'\\s*;?\\s*").r
  // Delta's CHECK-constraint verbs: every later write must satisfy the
  // expression; adding one validates the existing corpus first
  private val AlterAddConstraintRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+ADD\\s+CONSTRAINT\\s+$Ident" +
      "\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*").r
  private val AlterDropConstraintRe =
    s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+CONSTRAINT\\s+$Ident\\s*;?\\s*".r

  /** Split on commas NOT inside parentheses (types like
    * `DECIMAL(10,2)` carry their own commas). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().filter(_.trim.nonEmpty)
  }

  private def unquote(id: String): String =
    if (id.startsWith("`")) id.substring(1, id.length - 1) else id

  private[sql] def graftViewRelation(sp: SparkSession, view: String,
      verb: String): (LogicalPlan, AnyRef) = {
    val plan = sp.sessionState.catalog.getTempView(view).map(_.child)
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: no temporary view named '$view'"))
    val rel = plan.collectFirst { case lr: LogicalRelation => lr.relation }
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: view '$view' is not a graft-indexed relation"))
    (plan, rel)
  }
}

/** `OPTIMIZE <view>`: compact the view's current snapshot and rebind.
  * Eager, driver-run; returns one metrics row. The compaction itself
  * is one distributed rebuild job (see [[graft.IndexedRDD.compacted]]);
  * `lineage_depth_*` is the replay depth a cold read pays before/after
  * — the number OPTIMIZE exists to reset. */
case class GraftOptimizeCommand(view: String,
    zorder: Option[Seq[String]] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("partitions", IntegerType, nullable = false)(),
    AttributeReference("lineage_depth_before", IntegerType, nullable = false)(),
    AttributeReference("lineage_depth_after", IntegerType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    import IndexedFrame.{CompositeNRelation, IndexedRelation}
    // catalog tables compact their on-disk delta log: the current
    // content becomes a fresh base save and replay cost resets to one
    // load — the durable twin of the view-snapshot compaction below
    if (sp.sessionState.catalog.getTempView(view).isEmpty) {
      GraftTables.tableInfo(sp, view).foreach { case (path, _) =>
        val (_, rows, parts, dBefore, dAfter) =
          GraftTables.compact(sp, path, zorder)
        sp.sessionState.catalog.refreshTable(
          org.apache.spark.sql.catalyst.TableIdentifier(view))
        return Seq(Row(view, rows, parts, dBefore, dAfter))
      }
    }
    require(zorder.isEmpty,
      "OPTIMIZE ... ZORDER BY applies to durable graft CATALOG tables " +
        "(a temp view's layout is rebuilt per session — re-index it " +
        "z-keyed instead)")
    val (before, rel) =
      GraftSqlParser.graftViewRelation(sp, view, "OPTIMIZE")
    val (df, rows, parts, dBefore, dAfter) = rel match {
      case r: IndexedRelation[_] =>
        val db = r.h.idx.lineageDepth
        val c = r.h.compacted
        (c.toDF(sp), c.idx.count(), c.idx.partitions.length, db,
          c.idx.lineageDepth)
      case r: CompositeNRelation =>
        val db = r.h.idx.lineageDepth
        val c = r.h.compacted
        (c.toDF(sp), c.idx.count(), c.idx.partitions.length, db,
          c.idx.lineageDepth)
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE: view '$view' is not a graft-indexed relation " +
          s"(${other.getClass.getSimpleName})")
    }
    df.createOrReplaceTempView(view)
    GraftSqlExtension.recordRebind(sp, view, Some(before),
      df.queryExecution.analyzed)
    Seq(Row(view, rows, parts, dBefore, dAfter))
  }
  override def simpleString(maxFields: Int): String = s"GraftOptimize $view"
}

/** `VACUUM <view> [RETAIN n VERSIONS | RETAIN n HOURS]`: truncate the
  * time-travel chain to its newest n versions (default 1 — current
  * only), or — the wall-clock form operators actually reason in — to
  * every version committed within the last n hours (the current
  * version is always retained, so `RETAIN 0 HOURS` folds all
  * history). Version numbers never renumber either way. */
case class GraftVacuumCommand(view: String, retain: Int,
    hours: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("versions_dropped", LongType, nullable = false)(),
    AttributeReference("first_retained_version", LongType, nullable = false)(),
    AttributeReference("current_version", LongType, nullable = false)())

  /** Versions to keep for the HOURS form: those stamped at or after
    * the cutoff, floor 1 (the current version never folds). */
  private def keepByAge(times: Seq[Long]): Int = {
    val cutoff = System.currentTimeMillis() - retain * 3600000L
    math.max(1, times.count(_ >= cutoff))
  }

  override def run(sp: SparkSession): Seq[Row] = {
    // catalog tables vacuum their on-disk delta log: everything older
    // than the retention folds into the base save; version numbers
    // never renumber (dropped ones fail like Delta's "version no
    // longer exists")
    if (sp.sessionState.catalog.getTempView(view).isEmpty) {
      GraftTables.tableInfo(sp, view).foreach { case (path, _) =>
        val keep =
          if (hours) keepByAge(GraftTables.historyTimes(sp, path))
          else retain
        val (dropped, first, cur) = GraftTables.vacuumTable(sp, path, keep)
        sp.sessionState.catalog.refreshTable(
          org.apache.spark.sql.catalyst.TableIdentifier(view))
        return Seq(Row(view, dropped, first, cur))
      }
    }
    // existence check up front — VACUUM of an unknown name is an
    // error, VACUUM of a known view with no DML history a no-op
    GraftSqlParser.graftViewRelation(sp, view, "VACUUM")
    val keep =
      if (hours) keepByAge(GraftSqlExtension.versionTimes(sp, view))
      else retain
    val (dropped, first, cur) =
      GraftSqlExtension.vacuumChain(sp, view, keep)
    Seq(Row(view, dropped, first, cur))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftVacuum $view retain=$retain${if (hours) " hours" else ""}"
}

/** `RESTORE [TABLE] <name> TO VERSION|TIMESTAMP AS OF <x>` — Delta's
  * rollback verb: commit a NEW version whose content is the target
  * version's, leaving history intact (the restore itself shows in
  * `graft_history`, is time-travelable, and can be restored back).
  *
  * Catalog tables pay the DIFF, never the corpus: delete keys present
  * now but absent at the target, upsert target rows missing or changed
  * now — both sets come from key equi-joins of two co-partitioned
  * snapshots of the same base, so they plan as zero-Exchange zip joins,
  * and only the diff rows hit the durable delta log. Temp views are a
  * pure pointer swap (the chain already pins the target snapshot's
  * index) — `deleted_rows`/`upserted_rows` are NULL there, nothing is
  * recomputed. Restoring a view/table already AT the target version is
  * a no-op (no new version). */
case class GraftRestoreCommand(view: String, target: Either[Long, String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = true)(),
    AttributeReference("upserted_rows", LongType, nullable = true)())

  private def tsMillis(ts: String): Long =
    try java.sql.Timestamp.valueOf(ts).getTime
    catch {
      case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"RESTORE: cannot parse timestamp '$ts' " +
          "(expected yyyy-mm-dd hh:mm:ss[.f...])")
    }

  override def run(sp: SparkSession): Seq[Row] = {
    // catalog tables: resolve against the durable log, commit the diff
    if (sp.sessionState.catalog.getTempView(view).isEmpty) {
      GraftTables.tableInfo(sp, view).foreach { case (path, cur) =>
        val first = GraftTables.tableFirstVersion(sp, path)
        val tgt = target match {
          case Left(v) => v
          case Right(ts) =>
            val ms = tsMillis(ts)
            val i = GraftTables.historyTimes(sp, path).lastIndexWhere(_ <= ms)
            require(i >= 0, s"RESTORE: timestamp '$ts' predates the " +
              s"retained history of graft table '$view'")
            first + i
        }
        require(tgt >= first && tgt <= cur,
          s"RESTORE: no version $tgt for graft table '$view' " +
            s"(have $first..$cur" +
            (if (first > 0) " — earlier versions were compacted away)" else ")"))
        if (tgt == cur) return Seq(Row(view, tgt, cur, 0L, 0L))
        val (newV, nDel, nUp) = GraftTables.restoreTable(sp, path, tgt)
        sp.sessionState.catalog.refreshTable(
          org.apache.spark.sql.catalyst.TableIdentifier(view))
        return Seq(Row(view, tgt, newV, nDel, nUp))
      }
    }
    // temp views: the chain pins every retained snapshot — rebind the
    // name to the target's plan and record it as the next version
    val n = GraftSqlExtension.versionCount(sp, view)
    require(n > 0, s"RESTORE: '$view' has no recorded versions — the " +
      "chain SQL-text DML statements record (temp view or graft table)")
    val firstV = GraftSqlExtension.firstVersion(sp, view)
    val curV = firstV + GraftSqlExtension.versionTimes(sp, view).length - 1
    val tgt = target match {
      case Left(v) => v
      case Right(ts) =>
        val ms = tsMillis(ts)
        val times = GraftSqlExtension.versionTimes(sp, view)
        val i = times.lastIndexWhere(_ <= ms)
        require(i >= 0, s"RESTORE: timestamp '$ts' predates the " +
          s"retained history of '$view'")
        firstV + i
    }
    val tgtPlan = GraftSqlExtension.versionAt(sp, view, tgt).getOrElse(
      throw new IllegalArgumentException(
        s"RESTORE: no version $tgt for '$view' (have $firstV..$curV" +
          (if (firstV > 0) " — earlier versions were vacuumed away)" else ")")))
    if (tgt == curV) return Seq(Row(view, tgt, curV, null, null))
    val before = GraftSqlExtension.versionAt(sp, view, curV)
    val df = ExpressionBridge.ofRows(sp, tgtPlan)
    df.createOrReplaceTempView(view)
    GraftSqlExtension.recordRebind(sp, view, before,
      df.queryExecution.analyzed)
    Seq(Row(view, tgt, curV + 1, null, null))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftRestore $view to=$target"
}

/** `ALTER TABLE t ADD COLUMN(S) ...` — additive schema evolution for
  * graft catalog tables (Delta semantics: appended, nullable, existing
  * rows read NULL; nothing rewrites — a SCHEMA delta joins the log and
  * replay widens at that version, so time travel to pre-evolution
  * versions keeps the OLD schema). Non-graft tables execute Spark's
  * own parsed ALTER unchanged via the embedded fallback plan. */
/** Phase-2 schema evolution verbs (`RENAME COLUMN`, `DROP COLUMN`,
  * `ALTER COLUMN ... TYPE`) on graft catalog tables — metadata-only
  * commits through [[GraftTables.evolveSchema]]; non-graft targets run
  * Spark's own ALTER unchanged. */
case class GraftAlterEvolveCommand(table: String,
    change: GraftTables.SchemaChange, fallback: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    if (sp.sessionState.catalog.getTempView(table).isEmpty) {
      GraftTables.tableInfo(sp, table).foreach { case (path, _) =>
        val v = GraftTables.evolveSchema(sp, path, change)
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
        val newSchema = GraftTables.current(sp, path)._2.schema
        // alterTableDataSchema refuses drops/renames by design — this
        // evolution is versioned in the graft log, so replace the
        // catalog schema wholesale
        val ct = sp.sessionState.catalog.getTableMetadata(ident)
        sp.sessionState.catalog.alterTable(ct.copy(schema = newSchema))
        sp.sessionState.catalog.refreshTable(ident)
        return Seq(Row(table, v))
      }
    }
    ExpressionBridge.ofRows(sp, fallback).collect()
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftAlterEvolve $table $change"
}

case class GraftAlterAddColumnsCommand(table: String,
    cols: Seq[(String, DataType)], fallback: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("columns_added", IntegerType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    if (sp.sessionState.catalog.getTempView(table).isEmpty) {
      GraftTables.tableInfo(sp, table).foreach { case (path, _) =>
        val v = GraftTables.addColumns(sp, path, cols)
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
        // keep the session catalog's stored schema in step — the
        // catalog schema is what resolution trusts on the next lookup
        val newSchema = GraftTables.current(sp, path)._2.schema
        sp.sessionState.catalog.alterTableDataSchema(ident, newSchema)
        sp.sessionState.catalog.refreshTable(ident)
        return Seq(Row(table, cols.length, v))
      }
    }
    // not a graft table: run the delegate-parsed ALTER as Spark wrote it
    ExpressionBridge.ofRows(sp, fallback).collect()
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftAlterAddColumns $table +${cols.map(_._1).mkString(",")}"
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` / `DROP CONSTRAINT
  * name` — Delta's CHECK-constraint verbs on graft catalog tables.
  * Adding validates the EXISTING corpus first (one scan, explicit user
  * action — same as Delta); every later DML statement, writer-API
  * append, and streaming batch then gates its upsert rows at delta
  * cost, aborting BEFORE anything is claimed or written. SQL-standard
  * semantics: a row violates only when the expression is FALSE
  * (UNKNOWN passes). The constraints ride the `_constraints` sidecar —
  * durable across reopen, OPTIMIZE, and VACUUM. Non-graft targets run
  * Spark's own parsed statement when its grammar accepts it. */
case class GraftConstraintCommand(table: String, name: String,
    check: Option[String], fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("constraint", StringType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    if (sp.sessionState.catalog.getTempView(table).isEmpty) {
      GraftTables.tableInfo(sp, table).foreach { case (path, _) =>
        val existing = GraftTables.readConstraints(sp, path)
        check match {
          case Some(text) =>
            require(!existing.exists(_._1 == name),
              s"constraint '$name' already exists on '$table'")
            // the whole corpus must already satisfy the new CHECK
            val df = GraftTables.current(sp, path)._2.toDF(sp)
            val violated = df.filter(
              !org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.expr(text),
                org.apache.spark.sql.functions.lit(true)))
            require(violated.isEmpty,
              s"cannot add CHECK constraint '$name' ($text): existing " +
                s"rows of '$table' violate it")
            GraftTables.writeConstraints(sp, path, existing :+ (name, text))
            return Seq(Row(table, name, "added"))
          case None =>
            require(existing.exists(_._1 == name),
              s"no constraint '$name' on '$table'")
            GraftTables.writeConstraints(sp, path,
              existing.filterNot(_._1 == name))
            return Seq(Row(table, name, "dropped"))
        }
      }
    }
    fallback match {
      case Some(p) => ExpressionBridge.ofRows(sp, p).collect(); Seq.empty
      case None => throw new IllegalArgumentException(
        s"ALTER TABLE ... ${if (check.isDefined) "ADD" else "DROP"} " +
          s"CONSTRAINT: '$table' is not a graft table and Spark's own " +
          "grammar rejected the statement")
    }
  }
  override def simpleString(maxFields: Int): String =
    s"GraftConstraint $table $name ${if (check.isDefined) "add" else "drop"}"
}

/** `DESCRIBE DETAIL <table>` — Delta's one-row table-metadata verb for
  * graft catalog tables: location, key columns, live row/partition
  * counts (O(partitions) off the index headers), the readable version
  * window, and the durable sidecar inventory (indexes, constraints,
  * skew cap). */
/** `EXPORT [TABLE] t TO '<dir>'` — plain-Spark interop: write the
  * table's CURRENT content as ordinary parquet at `<dir>`, readable by
  * any session (spark.read.parquet / DuckDB / a notebook) with NO
  * graft extension installed. A SNAPSHOT, not a live view: later DML
  * does not touch the export (re-EXPORT for a fresh one) — explicit
  * staleness beats Delta's silently-stale foreign-reader degrade. One
  * distributed write, no driver collect; the exported layout keeps the
  * table's partition count. */
case class GraftExportCommand(table: String, dest: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    val (path, _) = GraftTables.tableInfo(sp, table).getOrElse(
      throw new IllegalArgumentException(
        s"EXPORT: '$table' is not a graft catalog table"))
    val (v, h) = GraftTables.current(sp, path)
    val df = h.toDF(sp)
    df.write.mode("overwrite").parquet(dest)
    Seq(Row(table, dest, v, sp.read.parquet(dest).count()))
  }
}

/** `OPTIMIZE t REINDEX <index>` — vector-index retrain on the LIVE
  * content ([[GraftTables.reindexVector]]): fresh hash-ordered
  * training sample, full re-assignment, staged-sibling swap. The
  * drift remedy — plain OPTIMIZE compacts lists against the FROZEN
  * centroids, so recall at fixed nprobe decays as the distribution
  * walks away from the CREATE-time sample. O(corpus) by definition. */
case class GraftReindexCommand(table: String, index: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("index", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("build_version", LongType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    val (path, _) = GraftTables.tableInfo(sp, table).getOrElse(
      throw new IllegalArgumentException(
        s"OPTIMIZE ... REINDEX: '$table' is not a graft catalog table"))
    val (kind, bv) = GraftTables.reindexVector(sp, path, index)
    Seq(Row(table, index, kind, bv))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftReindex $table $index"
}

/** `GENERATE MANIFEST FOR TABLE t TO '<dir>'` — zero-copy-ish foreign
  * interop: maintain a plain-parquet MIRROR of the table at `<dir>`
  * plus a `_graft_manifest/manifest` file listing its current leaf
  * parquet files (the symlink-format-manifest idea adapted to a base
  * layout that is not parquet). The first call writes the full
  * mirror; a REPEAT call against the same dir rewrites ONLY the
  * mirror partitions whose keys a delta touched since the last
  * generated version (delta-cost change detection off the delta
  * parquet, dynamic partition overwrite) — re-exporting a 100 TB
  * table after a 1k-row MERGE rewrites kilobytes, not 100 TB (the
  * plain EXPORT verb's cost). Foreign readers load the manifest's
  * paths directly (spark.read.parquet(paths) / DuckDB read_parquet):
  * leaf-file reads do no partition discovery, so the internal
  * `__part=N` mirror dirs never surface as a column. The manifest is
  * rewritten atomically AFTER the data — a reader that re-reads it
  * always sees a complete snapshot; one holding a STALE manifest
  * across a refresh may hit replaced files (Delta's symlink manifests
  * degrade identically) — regenerate and re-read. */
/** The GENERATE MANIFEST engine, shared by the statement and the
  * post-commit auto-refresh hook ([[GraftTables]] invokes [[refresh]]
  * after every DML commit on tables with registered auto mirrors —
  * Delta's `symlinkFormatManifest.enabled` shape). The staleness
  * CONTRACT lives here too: the mirror records its source version, so
  * a foreign reader (or the `graft_manifest_stale` TVF) can detect a
  * stale mirror WITHOUT reading any data. */
private[sql] object GraftManifest {
  import org.apache.hadoop.fs.Path

  private val MetaMagic = 0x47454D46 // "GEMF"
  private val MetaVersion = 1

  /** The same table reaches the refresh path as '/t', 'file:/t', or
    * 'file:///t' depending on the entry point (tableInfo URIs vs raw
    * commit paths) — a raw-string meta match would read an
    * auto-refreshed mirror as FOREIGN and full-rewrite forever while
    * the staleness probe reported -1. One normalized form for all. */
  private def samePath(a: String, b: String): Boolean = {
    def norm(s: String) = {
      val p = s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/*", "/")
      if (p.startsWith("/")) p else s"/$p"
    }
    norm(a) == norm(b)
  }

  // post-commit auto-refreshes from CONCURRENT committers must not
  // interleave on one mirror (delete + append of the same __part dirs
  // = duplicate/stale rows a fresh-reading manifest then lists).
  // Commits themselves serialize, so an in-JVM per-dest monitor plus
  // the version guard in [[refresh]] restores their order; ACROSS
  // processes the mirror stays last-writer-wins (the statement form
  // always was) — re-run GENERATE to heal, staleness stays detectable.
  private val refreshLocks =
    new scala.collection.concurrent.TrieMap[String, Object]()
  private def lockFor(dest: String): Object =
    refreshLocks.getOrElseUpdate(dest, new Object)

  /** (exported source version, mirror partition count, source path) —
    * None when absent/foreign/unparsable (callers full-rewrite). */
  private[sql] def readExportMeta(fs: org.apache.hadoop.fs.FileSystem,
      f: Path): Option[(Long, Int, String)] =
    try {
      if (!fs.exists(f)) None
      else {
        val in = new java.io.ObjectInputStream(fs.open(f))
        try {
          if (in.readInt() != MetaMagic || in.readInt() != MetaVersion) None
          else Some((in.readLong(), in.readInt(),
            in.readObject().asInstanceOf[String]))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The mirror's recorded source version at `dest`, for THIS table —
    * the staleness probe's data-free read. */
  private[sql] def exportedVersion(sp: SparkSession, path: String,
      dest: String): Option[Long] = {
    val destP = new Path(dest)
    val fs = destP.getFileSystem(sp.sparkContext.hadoopConfiguration)
    readExportMeta(fs, new Path(destP, "_graft_export_meta"))
      .filter(m => samePath(m._3, path)).map(_._1)
  }

  // plain listStatus recursion — fs.listFiles(recursive) returns
  // LocatedFileStatus and pays a per-file block-locations call, ~9s
  // for a thousand local files
  private def leafParquets(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[String] = {
    def walk(d: Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          Seq(st.getPath.toString)
        else Nil
      }
    walk(dir).sorted
  }

  private def dbg[A](label: String)(body: => A): A =
    if (!sys.env.contains("GRAFT_DEBUG_GEN")) body
    else {
      val t0 = System.nanoTime(); val r = body
      println(f"GEN $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

  /** Generate/refresh the plain-parquet mirror of the table at `path`
    * into `dest`. Returns (source version, leaf files, partitions
    * rewritten, mode ∈ full|incremental|noop). */
  private[sql] def refresh(sp: SparkSession, path: String,
      dest: String): (Long, Int, Int, String) = lockFor(dest).synchronized {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val (v, h) = dbg("current")(GraftTables.current(sp, path))
    val destP = new Path(dest)
    val fs = destP.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val metaF = new Path(destP, "_graft_export_meta")
    val dataDir = new Path(destP, "data")
    val meta = readExportMeta(fs, metaF).filter(m => samePath(m._3, path))
    // version guard (with the monitor above): a rival committer's
    // post-commit refresh that already mirrored PAST our snapshot must
    // not be rolled back to it — the delete+append would resurrect
    // rows its refresh superseded (equal versions flow through the
    // normal noop path below, which re-verifies and lists files)
    meta.filter(_._1 > v).foreach { m =>
      return (m._1, -1, 0, "noop")
    }
    val nParts = dbg("nParts")(meta.map(_._2)
      .getOrElse(math.max(1, h.idxAny.partitions.length)))
    val pidCol = pmod(xxhash64(h.keyCols.map(col): _*), lit(nParts))
      .cast("int").as("__part")
    val df = dbg("toDF")(h.toDF(sp).withColumn("__part", pidCol))
    val changed = dbg("changedParts")(meta.flatMap { case (lastV, _, _) =>
      GraftTables.exportChangedParts(sp, path, lastV, v, h.keyCols, nParts)
    })
    val (mode, rewritten) = changed match {
      case Some(Nil) => ("noop", 0)
      case Some(pids) =>
        // drop the changed dirs FIRST, then one map-only pass (filter
        // + write, no shuffle) re-creates exactly those with rows — a
        // mirror partition whose every key was deleted stays gone
        // without a second detection scan. The window between delete
        // and manifest rewrite is the same foreign-reader exposure a
        // dynamic partition overwrite has; the manifest below is the
        // atomic commit point.
        pids.foreach(pid =>
          fs.delete(new Path(dataDir, s"__part=$pid"), true))
        // repartition by the mirror pid first: ONE file per mirror
        // partition instead of tasks × partitions tiny files — the
        // foreign reader's open cost and the manifest's length both
        // track the partition count, not the writer's parallelism
        df.filter(col("__part").isin(pids: _*))
          .repartition(math.max(1, pids.size), col("__part"))
          .write.mode("append")
          .partitionBy("__part").parquet(dataDir.toString)
        ("incremental", pids.size)
      case None =>
        df.repartition(nParts, col("__part"))
          .write.mode("overwrite").partitionBy("__part")
          .parquet(dataDir.toString)
        ("full", nParts)
    }
    val files = dbg("leafParquets")(leafParquets(fs, dataDir))
    dbg("manifest+meta write") {
    graft.MarkerFile.writeAtomic(fs,
      new Path(destP, "_graft_manifest/manifest")) { raw =>
      raw.write(files.mkString("\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    }
    graft.MarkerFile.writeAtomic(fs, metaF) { raw =>
      val out = new java.io.ObjectOutputStream(raw)
      out.writeInt(MetaMagic); out.writeInt(MetaVersion)
      out.writeLong(v); out.writeInt(nParts); out.writeObject(path)
      out.flush()
    }
    }
    (v, files.size, rewritten, mode)
  }

  // --------------------------------------------- auto-refresh registry
  // `WITH AUTO REFRESH` registers the mirror dir in a `_texport_auto`
  // sidecar beside the table's delta log; [[GraftTables]]' post-commit
  // tail re-runs the (delta-cost) refresh for every registered dir —
  // failures there are post-commit-absorbed and gauged, never
  // statement-fatal.

  private def autoFile(path: String) = new Path(path, "_texport_auto")

  private[sql] def autoDests(sp: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(
      sp.sparkContext.hadoopConfiguration)
    graft.MarkerFile.readString(fs, autoFile(path))
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  }

  private[sql] def registerAuto(sp: SparkSession, path: String,
      dest: String): Unit = lockFor(s"register:$path").synchronized {
    // read-modify-write under a monitor so two concurrent WITH AUTO
    // REFRESH registrations (different dests) cannot drop each other
    val fs = new Path(path).getFileSystem(
      sp.sparkContext.hadoopConfiguration)
    val all = (autoDests(sp, path) :+ dest).distinct
    graft.MarkerFile.writeString(fs, autoFile(path), all.mkString("\n"))
  }

  /** Post-commit hook: refresh every registered auto mirror (delta
    * cost — the just-committed statement's touched partitions only).
    * Called from inside the commit's absorb-and-gauge region. */
  private[sql] def autoRefresh(sp: SparkSession, path: String): Unit =
    autoDests(sp, path).foreach(dest => refresh(sp, path, dest))
}

case class GraftGenerateManifestCommand(table: String, dest: String,
    auto: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files", IntegerType, nullable = false)(),
    AttributeReference("partitions_rewritten", IntegerType, nullable = false)(),
    AttributeReference("mode", StringType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    val (path, _) = GraftTables.tableInfo(sp, table).getOrElse(
      throw new IllegalArgumentException(
        s"GENERATE MANIFEST: '$table' is not a graft catalog table"))
    val (v, files, rewritten, mode) = GraftManifest.refresh(sp, path, dest)
    if (auto) GraftManifest.registerAuto(sp, path, dest)
    Seq(Row(table, dest, v, files, rewritten, mode))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftGenerateManifest $table"
}

case class GraftDescribeDetailCommand(table: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("key_columns", StringType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("num_partitions", IntegerType, nullable = false)(),
    AttributeReference("first_version", LongType, nullable = false)(),
    AttributeReference("current_version", LongType, nullable = false)(),
    AttributeReference("indexes", StringType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("skew_cap", LongType, nullable = true)())

  override def run(sp: SparkSession): Seq[Row] = {
    val (path, cur) = GraftTables.tableInfo(sp, table).getOrElse(
      throw new IllegalArgumentException(
        s"DESCRIBE DETAIL: '$table' is not a graft catalog table " +
          "(for in-session view chains use graft_history)"))
    val h = GraftTables.current(sp, path)._2
    val first = GraftTables.tableFirstVersion(sp, path)
    val idxs = GraftTables.readIndexManifest(sp, path)
      .map { case (n, t, cs) => s"$n:$t(${cs.mkString(",")})" }
      .mkString("; ")
    val cons = GraftTables.readConstraints(sp, path)
      .map { case (n, t) => s"$n: CHECK ($t)" }.mkString("; ")
    Seq(Row(table, "graft", path, h.keyCols.mkString(","),
      h.idxAny.count(), h.idxAny.partitions.length, first, cur,
      idxs, cons, GraftTables.readSkewCapPublic(sp, path).orNull))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDescribeDetail $table"
}

/** `CREATE TABLE c [SHALLOW|DEEP] CLONE s [VERSION AS OF n] LOCATION
  * 'p'` — materialize one snapshot of a graft table as a NEW,
  * INDEPENDENT table: the clone starts its own history at version 0
  * with the source snapshot's content, carries the source's secondary
  * indexes, zone maps, CHECK constraints, and skew cap, and later DML
  * on either side never touches the other. SHALLOW aliases DEEP (the
  * clone always owns its files — no dangling references when the
  * source VACUUMs). */
case class GraftCloneCommand(target: String, source: String,
    version: Option[Long], location: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("source_version", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)())

  override def run(sp: SparkSession): Seq[Row] = {
    val (srcPath, cur) = GraftTables.tableInfo(sp, source).getOrElse(
      throw new IllegalArgumentException(
        s"CLONE: '$source' is not a graft catalog table"))
    val v = version.getOrElse(cur)
    val rows = GraftTables.cloneTo(sp, srcPath, v, location)
    sp.sql(s"CREATE TABLE `$target` USING graft LOCATION '$location'")
    Seq(Row(target, v, rows))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftClone $target from=$source v=$version"
}
