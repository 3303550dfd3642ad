package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

/** The SQL maintenance verbs — `OPTIMIZE`, `VACUUM`, and `RESTORE`
  * statements over Snapshots-versioned catalog tables, the spelling Delta
  * users expect (Spark's grammar has none of them, so a delegating parser
  * extension claims exactly these statements and hands everything else to
  * Spark's own parser — the injectParser deployment pattern):
  *
  * {{{
  *   OPTIMIZE <catalog>.<table> [INTO <n> FILES] [ZORDER BY (c1, c2, …)]
  *   VACUUM   <catalog>.<table> [KEEP <n> VERSIONS]
  *                              [GRACE <n> HOURS|MINUTES|SECONDS]
  *   RESTORE TABLE <catalog>.<table> [TO] VERSION AS OF <n>
  * }}}
  *
  * THE CLAIM SET IS FROZEN at these three verbs, matched by trim-anchored
  * regex over plain two-part `catalog.table` identifiers. Anything else —
  * a leading SQL comment, backticks, a three-part name — deliberately
  * FALLS THROUGH to Spark's parser, which fails loudly on the unknown
  * verb rather than half-parsing it here (the benign-degradation
  * contract, pinned in MaintenanceSqlSpec; the refusal error names the
  * two-part plain-identifier restriction).
  *
  * `OPTIMIZE` rewrites the latest version into `n` range-clustered files
  * ([[graft.lake.Snapshots.compact]] — result-invariant by construction:
  * merge-on-read vectors fold away, stats re-derive, a new version
  * publishes). Without `INTO n FILES` the file count is sized from the
  * version's exact sidecar byte lengths at
  * `spark.graft.optimize.targetFileBytes` (default 128 MiB — the scan
  * split convention), falling back to a 4:1 merge when no sidecar exists.
  * `ZORDER BY` interleaves the named columns' bits so every named
  * column's per-file [min,max] boxes come out tight at once
  * ([[graft.lake.ZOrder]]); without it the table's tracked stats columns
  * (or the partition layout) drive plain range clustering.
  *
  * `VACUUM` deletes data files, delete vectors, manifests and sidecars
  * no live version references ([[graft.lake.Snapshots.vacuum]]). The
  * retention guard refuses a grace below
  * `spark.graft.vacuum.minGraceMillis` (default one hour — the
  * stage-to-publish race window, see vacuum's scaladoc): time travel and
  * in-flight commits are protected out of the box, and a test that wants
  * immediate reclamation lowers the conf explicitly, mirroring Delta's
  * `retentionDurationCheck`.
  *
  * `RESTORE TABLE` rolls the table back by publishing a NEW version whose
  * content is exactly the named version's — metadata-only, history moves
  * forward only ([[graft.lake.Snapshots.restore]]). Restoring past the
  * vacuum horizon fails loudly, naming vacuum.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText.trim match {
    case OptimizeRe(cat, table, _, nFiles, _, zCols) =>
      OptimizeTableCommand(cat, table,
        Option(nFiles).map(_.toInt),
        Option(zCols).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
    case VacuumRe(cat, table, _, keep, _, graceN, graceUnit) =>
      val grace = (Option(graceN), Option(graceUnit)) match {
        case (Some(n), Some(u)) => Some(n.toLong * (u.toUpperCase match {
          case s if s.startsWith("HOUR") => 3600000L
          case s if s.startsWith("MINUTE") => 60000L
          case _ => 1000L
        }))
        case _ => None
      }
      VacuumTableCommand(cat, table,
        Option(keep).map(_.toInt).getOrElse(1), grace)
    case RestoreRe(cat, table, version) =>
      RestoreTableCommand(cat, table, version.toLong)
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
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // two-part identifiers only: the catalog name resolves the lake root at
  // EXECUTION time (from spark.sql.catalog.<name>.root), so the statement
  // is self-contained and re-runnable across root re-points
  private val OptimizeRe =
    ("""(?is)^OPTIMIZE\s+(\w+)\.(\w+)""" +
      """(\s+INTO\s+(\d+)\s+FILES)?""" +
      """(\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?$""").r
  private val VacuumRe =
    ("""(?is)^VACUUM\s+(\w+)\.(\w+)""" +
      """(\s+KEEP\s+(\d+)\s+VERSIONS)?""" +
      """(\s+GRACE\s+(\d+)\s+(HOURS?|MINUTES?|SECONDS?))?\s*;?$""").r
  private val RestoreRe =
    """(?is)^RESTORE\s+TABLE\s+(\w+)\.(\w+)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?$""".r

  /** Lake root of a registered graft catalog, or a loud failure when the
    * name is not a catalog this extension owns. Spark catalog names are
    * case-insensitive, so the conf lookup case-folds: the exact spelling
    * wins, then the lower-cased one (`OPTIMIZE GRAFT.t` must resolve the
    * catalog `SELECT * FROM GRAFT.t` resolves).
    */
  private[sql] def rootOf(spark: SparkSession, catalogName: String): String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(spark.conf.getOption(
        s"spark.sql.catalog.${catalogName.toLowerCase(java.util.Locale.ROOT)}.root"))
      .getOrElse(throw new IllegalArgumentException(
        s"OPTIMIZE/VACUUM/RESTORE target catalog '$catalogName' is not a " +
          s"registered graft catalog (no spark.sql.catalog.$catalogName.root)" +
          " — note these statements accept plain two-part catalog.table " +
          "identifiers only (no backticks, no three-part names)"))
}

/** `OPTIMIZE` — compact the latest version (see [[GraftSqlParser]]).
  * Returns one row: (version, n_files_before, n_files_after).
  */
case class OptimizeTableCommand(catalogName: String, table: String,
    numFiles: Option[Int], zorderCols: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_files_before", LongType, nullable = false)(),
    AttributeReference("n_files_after", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.lake.Snapshots
    val root = GraftSqlParser.rootOf(spark, catalogName)
    val latest = Snapshots.latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to optimize"))
    val m = Snapshots.manifest(spark, root, table, latest)
    val sidecar = graft.lake.Sidecar.load(spark, root, table, latest)
    val statsCols = sidecar.map(_.statsCols).getOrElse(Nil)
    val clusterCols =
      if (zorderCols.nonEmpty) zorderCols
      else if (statsCols.nonEmpty) statsCols
      else m.partitionCols
    if (clusterCols.isEmpty && m.partitionCols.isEmpty)
      throw new IllegalArgumentException(
        s"OPTIMIZE $table: no cluster columns derivable (no ZORDER BY, no " +
          "tracked stats columns, no partition layout) — say ZORDER BY (…)")
    val unknown = clusterCols.filterNot(c =>
      m.schema.forall(_.fieldNames.contains(c)))
    require(unknown.isEmpty,
      s"OPTIMIZE $table: unknown ZORDER column(s) ${unknown.mkString(", ")}")
    val n = numFiles.getOrElse {
      // size from the sidecar's exact byte lengths at the target file
      // size; conservative 4:1 merge when no sidecar records bytes
      val target = spark.conf
        .getOption("spark.graft.optimize.targetFileBytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      sidecar
        .filter(idx => m.files.nonEmpty && m.files.forall(idx.bytes.contains))
        .map(idx => math.max(1L,
          (m.files.map(idx.bytes).sum + target - 1) / target).toInt)
        .getOrElse(math.max(1, m.files.size / 4))
    }
    val before = m.files.size.toLong
    // compact the EXACT version inspected above: a commit landing between
    // the sizing read and the rewrite surfaces the retryable CME instead
    // of silently compacting (and mis-reporting) a different version
    val v = Snapshots.compact(spark, root, table, m.partitionCols, n,
      clusterCols, statsCols, zOrder = zorderCols.nonEmpty,
      baseVersion = Some(latest))
    val after = Snapshots.liveFiles(spark, root, table, v).size.toLong
    Seq(Row(v, before, after))
  }
}

/** `RESTORE TABLE` — roll back by re-pointing (see [[GraftSqlParser]];
  * [[graft.lake.Snapshots.restore]]). Returns one row:
  * (version, restored_from_version, n_files).
  */
case class RestoreTableCommand(catalogName: String, table: String,
    toVersion: Long)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("restored_from_version", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.lake.Snapshots
    val root = GraftSqlParser.rootOf(spark, catalogName)
    val v = Snapshots.restore(spark, root, table, toVersion)
    Seq(Row(v, toVersion,
      Snapshots.liveFiles(spark, root, table, v).size.toLong))
  }
}

/** `VACUUM` — retire unreferenced files (see [[GraftSqlParser]]).
  * Returns one row: (n_deleted,).
  */
case class VacuumTableCommand(catalogName: String, table: String,
    keepVersions: Int, graceMillis: Option[Long])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("n_deleted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.lake.Snapshots
    val root = GraftSqlParser.rootOf(spark, catalogName)
    val minGrace = spark.conf
      .getOption("spark.graft.vacuum.minGraceMillis")
      .map(_.toLong).getOrElse(3600000L)
    val grace = graceMillis.getOrElse(minGrace)
    if (grace < minGrace) throw new IllegalArgumentException(
      s"VACUUM $table: GRACE ${grace}ms is below the retention minimum " +
        s"(${minGrace}ms) — files younger than the grace window protect " +
        "in-flight commits and readers of recent versions. Lower " +
        "spark.graft.vacuum.minGraceMillis explicitly if you really " +
        "mean it (single-writer maintenance windows, tests)")
    require(keepVersions >= 1, s"VACUUM $table: KEEP must be >= 1")
    val deleted = Snapshots.vacuum(spark, root, table, keepVersions, grace)
    // versioned reads of retired versions now fail at manifest resolution;
    // drop them from the plan cache so the failure is immediate and clear
    GraftCatalog.invalidate(root, table)
    Seq(Row(deleted.size.toLong))
  }
}
