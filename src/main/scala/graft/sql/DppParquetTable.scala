package graft.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal, EqualTo => CatalystEqualTo, In => CatalystIn}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{InputPartition, SupportsRuntimeFiltering, VariantExtraction}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[ParquetScan]] + dynamic partition pruning.
  *
  * Spark's V2 file scans do NOT implement `SupportsRuntimeFiltering`, so
  * the optimizer's `PartitionPruning` rule — which handles
  * `DataSourceV2ScanRelation` only when the scan advertises
  * `SupportsRuntimeV2Filtering` — silently skips them: a catalog read
  * joined to a filtered dimension on the partition key scans EVERY
  * partition, where the identical V1 `spark.read` plan DPPs down to the
  * matching directories (measured in GraftCatalogSpec). At 100 TB the
  * symbol→sid join against sid-partitioned ticks is exactly this shape,
  * so the catalog restores the capability:
  *
  *  - `filterAttributes` advertises the partition columns;
  *  - at execution, `BatchScanExec` pushes the DPP subquery's values via
  *    `filter(...)`, which this scan translates into extra Catalyst
  *    partition predicates (name-resolved against the partition schema,
  *    the same binding `PartitioningAwareFileIndex.listFiles` applies);
  *  - `planInputPartitions` then re-lists through a fresh copy of the
  *    underlying scan carrying the combined filters — unknown predicate
  *    shapes simply don't prune (conservative, never wrong).
  */
class DppParquetScan(
    sparkSession: SparkSession,
    hadoopConf: Configuration,
    fileIndex: PartitioningAwareFileIndex,
    dataSchema: StructType,
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    pushedFilters: Array[sources.Filter],
    options: CaseInsensitiveStringMap,
    pushedAggregate: Option[Aggregation],
    partitionFilters: Seq[Expression],
    dataFilters: Seq[Expression],
    pushedVariantExtractions: Array[VariantExtraction],
    fileStats: Option[graft.lake.Sidecar] = None,
    val mor: Option[MorRead.Spec] = None)
  extends ParquetScan(sparkSession, hadoopConf, fileIndex, dataSchema,
    readDataSchema, readPartitionSchema, pushedFilters, options,
    pushedAggregate, partitionFilters, dataFilters, pushedVariantExtractions)
  with SupportsRuntimeFiltering {

  @volatile private var runtimePartitionFilters: Seq[Expression] = Nil

  // Version identity for plan-reuse equality. ParquetScan's equals
  // compares schemas/options/pushed filters but NOT the file index or
  // the merge-on-read vectors — two VERSIONS of a snapshot table with
  // identical schema and options compare EQUAL whenever their file
  // lists coincide (a vector-only delete keeps every file), and AQE's
  // exchange reuse then silently serves one version's rows for the
  // other (caught by q232: a UNION over `VERSION AS OF 2` and latest=v3
  // collapsed to two copies of v2). Equality additionally requires the
  // SAME file-index instance — scans of the same cached per-version
  // table still compare equal, so legitimate same-version reuse is
  // preserved — and an equal vector spec.
  override def equals(obj: Any): Boolean = obj match {
    case o: DppParquetScan =>
      super.equals(o) && (fileIndex eq o.fileIndex) && mor == o.mor
    case _ => false
  }
  override def hashCode(): Int =
    31 * super.hashCode() + System.identityHashCode(fileIndex)

  // only partition columns the scan actually OUTPUTS: the rule resolves
  // these against the pruned relation output, and an absent column is an
  // AnalysisException, not a skipped optimization
  override def filterAttributes(): Array[NamedReference] =
    readPartitionSchema.fieldNames.map(c =>
      Expressions.column(QuotingUtils.quoteIdentifier(c)))

  override def filter(filters: Array[sources.Filter]): Unit =
    runtimePartitionFilters = filters.toSeq.flatMap(toPartitionPredicate)

  /** The V2 entry point `BatchScanExec` actually calls. The default
    * V1-Filter bridge DROPS any predicate whose key is not a bare column
    * — and a type-mismatched join (bigint key vs int32-inferred partition
    * directory) wraps the key in a cast, so the common rename-boundary
    * join would silently prune nothing. Handle the V2 shape directly:
    * unwrap casts down to the column reference (evaluation re-applies the
    * cast on the ATTRIBUTE side — widening, never lossy) and build
    * Catalyst literals from the V2 literals' internal values.
    */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimePartitionFilters = predicates.toSeq.flatMap(toPartitionPredicateV2)

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames().length == 1 =>
      Some(f.fieldNames()(0))
    case c: org.apache.spark.sql.connector.expressions.Cast => colOf(c.expression())
    case _ => None
  }

  private def toPartitionPredicateV2(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Expression] = {
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Literal] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(Literal(l.value, l.dataType)) // internal-value constructor
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().length >= 2 =>
        for {
          name <- colOf(p.children().head)
          a <- partitionAttr(name)
          lits <- Some(p.children().tail.toSeq.map(lit))
            .filter(_.forall(_.isDefined)).map(_.flatten)
          t <- lits.map(_.dataType).distinct match {
            case Seq(one) if one != org.apache.spark.sql.types.NullType => Some(one)
            case _ => None
          }
        } yield CatalystIn(keyFor(a, t), lits)
      case "=" if p.children().length == 2 =>
        for {
          name <- colOf(p.children()(0))
          a <- partitionAttr(name)
          l <- lit(p.children()(1))
          if l.dataType != org.apache.spark.sql.types.NullType
        } yield CatalystEqualTo(keyFor(a, l.dataType), l)
      case _ => None // conservative: an untranslatable predicate prunes nothing
    }
  }

  private def partitionAttr(name: String): Option[AttributeReference] =
    fileIndex.partitionSchema.fields.find(_.name == name)
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  /** Key-side expression comparable to literals of `valueType`: the DPP
    * values carry the JOIN key's type (e.g. bigint), which can differ
    * from the inferred partition-directory type (e.g. int32) — cast the
    * attribute up rather than the values down (never lossy, and the
    * listing's bound predicate evaluates casts fine).
    */
  private def keyFor(a: AttributeReference,
      valueType: org.apache.spark.sql.types.DataType): Expression =
    if (valueType == a.dataType) a
    else org.apache.spark.sql.catalyst.expressions.Cast(a, valueType)

  private def toPartitionPredicate(f: sources.Filter): Option[Expression] =
    f match {
      case sources.In(attr, values) if values.nonEmpty =>
        partitionAttr(attr).flatMap { a =>
          val lits = values.toSeq.map(v => Literal.create(v))
          lits.map(_.dataType).distinct match {
            case Seq(t) if t != org.apache.spark.sql.types.NullType =>
              Some(CatalystIn(keyFor(a, t), lits))
            case _ => None // mixed/null-typed values: don't prune
          }
        }
      case sources.EqualTo(attr, v) if v != null =>
        partitionAttr(attr).map { a =>
          val lit = Literal.create(v)
          CatalystEqualTo(keyFor(a, lit.dataType), lit)
        }
      case _ => None // conservative: an untranslatable filter prunes nothing
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val base =
      if (runtimePartitionFilters.isEmpty) super.planInputPartitions()
      else copy(partitionFilters = partitionFilters ++ runtimePartitionFilters)
        .planInputPartitions() // fresh plain scan: re-lists under the union
    // stats-sidecar file skipping (Snapshots-versioned tables only): the
    // pushed data filters run against each file's committed min/max — the
    // SQL read opens the same candidate set Snapshots.readVersionPruned
    // does. No stats / no pushed filters → pass through unchanged.
    val pruned =
      if (pushedFilters.isEmpty) base
      else fileStats match {
        case Some(stats) => SidecarSkip.prune(base, stats, pushedFilters)
        case None => base
      }
    // merge-on-read delete vectors: regroup so vector applicability (the
    // addedAt sequence rule) is uniform per partition — the reader wrapper
    // then decides it once per task, never per row
    mor match {
      case Some(spec) if spec.vectors.nonEmpty =>
        MorRead.regroup(pruned, spec.addedAt,
          sparkSession.sessionState.conf.filesMaxPartitionBytes)
      case _ => pruned
    }
  }

  /** Exact planner statistics from the version's sidecar: the commit
    * recorded every live file's byte length and row count, so the
    * optimizer sizes this scan from manifest metadata — no file listing,
    * no size guessing — and a dimension-sized versioned table becomes
    * broadcast-eligible before AQE ever measures it. The estimate honors
    * the PUSHED filters at file granularity (the same sidecar ranges the
    * skipping path uses), so a range-filtered read reports the candidate
    * files' sizes, not the whole table's. Files without recorded
    * bytes/rows (pre-recording commits) fall back to the file-listing
    * estimate, conservatively.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    fileStats match {
      case Some(idx) if idx.bytes.nonEmpty &&
          idx.bytes.keySet == idx.ranges.keySet =>
        val candidates = idx.ranges.keysIterator.filter { file =>
          pushedFilters.isEmpty ||
            pushedFilters.forall(f => SidecarSkip.mayMatch(idx.ranges(file).get, f))
        }.toSeq
        val bytes = candidates.iterator.map(idx.bytes).sum
        val rows = candidates.iterator.map(f => idx.rows.getOrElse(f, 0L)).sum
        val rowsKnown = candidates.forall(idx.rows.contains)
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(bytes)
          override def numRows(): java.util.OptionalLong =
            if (rowsKnown) java.util.OptionalLong.of(rows)
            else java.util.OptionalLong.empty()
        }
      case _ => super.estimateStatistics()
    }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val inner = super.createReaderFactory()
    mor match {
      case Some(spec) if spec.vectors.nonEmpty =>
        new MorRead.ReaderFactory(inner, spec,
          StructType(readDataSchema.fields ++ readPartitionSchema.fields))
      case _ => inner
    }
  }
}

/** [[ParquetScanBuilder]] that re-wraps its product as [[DppParquetScan]]
  * — all pushdown state (filters, columns, aggregates) is inherited; only
  * the built scan's runtime-filtering capability changes.
  */
class DppParquetScanBuilder(
    sparkSession: SparkSession,
    fileIndex: PartitioningAwareFileIndex,
    schema: StructType,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap,
    fileStats: Option[graft.lake.Sidecar] = None,
    mor: Option[MorRead.Spec] = None)
  extends ParquetScanBuilder(sparkSession, fileIndex, schema, dataSchema, options) {

  /** With merge-on-read vectors live, the vector columns must survive
    * column pruning — the reader filter evaluates them. Reporting them as
    * unpruned is within the V2 contract (pruning is best-effort); the
    * projection above the scan drops them again.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val withKeys = mor match {
      case Some(spec) =>
        val have = requiredSchema.fieldNames.toSet
        val missing = spec.vectors.flatMap(_.cols).distinct.filterNot(have)
        StructType(requiredSchema.fields ++
          missing.flatMap(n => schema.fields.find(_.name == n)))
      case None => requiredSchema
    }
    super.pruneColumns(withKeys)
  }

  override def build(): ParquetScan = {
    val p = super.build()
    new DppParquetScan(p.sparkSession, p.hadoopConf, p.fileIndex,
      p.dataSchema, p.readDataSchema, p.readPartitionSchema, p.pushedFilters,
      p.options, p.pushedAggregate, p.partitionFilters, p.dataFilters,
      p.pushedVariantExtractions, fileStats, mor)
  }
}

/** The one SQL write the catalog admits: `INSERT INTO` a
  * Snapshots-versioned table, routed through
  * [[graft.lake.Snapshots.append]] (the commit protocol's pure-append
  * mode — INSERT must never replace overlapping partitions) so a SQL
  * append is indistinguishable from a Scala one — partition clustering,
  * write-derived file
  * attribution, put-if-absent manifest publish (a concurrent commit
  * surfaces the retryable `ConcurrentModificationException`), and stats
  * sidecar continuity (`statsCols` carried from the previous version's
  * sidecar) all apply. Implemented as a DSV2 `V1Write` fallback: the
  * commit protocol needs the whole input as one DataFrame (cluster →
  * stage → move → publish), which is exactly the `InsertableRelation`
  * contract; a per-task V2 `BatchWrite` would scatter files outside the
  * protocol. Capabilities deliberately EXCLUDE `BATCH_WRITE` and
  * truncate: `INSERT OVERWRITE` fails at analysis rather than bypassing
  * dynamic-overwrite semantics.
  */
class SnapshotInsertTable(
    tableName: String,
    tableSchema: StructType,
    root: String,
    table: String,
    partitionCols: Seq[String],
    statsCols: Seq[String])
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SnapshotDmlTarget {

  // insert-only MERGE resolves with {INSERT} privileges → this table;
  // the merge rule needs the lake identity (see SnapshotDmlTarget)
  override def lakeRoot: String = root
  override def lakeTable: String = table
  override def lakePartitionCols: Seq[String] = partitionCols
  override def lakeStatsCols: Seq[String] = statsCols

  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = tableName
  override def schema(): StructType = tableSchema // columns() derives from this

  // the declared layout drives INSERT's partition machinery: the static
  // `PARTITION (c=v)` spec validates against it, and dynamic
  // partition-overwrite mode plans OverwritePartitionsDynamic only for
  // tables that declare partitioning
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionCols.map(c =>
      Expressions.identity(QuotingUtils.quoteIdentifier(c))).toArray

  // deliberately NOT a FileTable: the analyzer's FallBackFileSourceV2
  // rule rewrites INSERTs over any FileTable back to the V1 file-format
  // write path (single-path, protocol-bypassing); a plain SupportsWrite
  // table keeps the write on THIS builder. Every INSERT shape maps onto
  // a protocol verb:
  //  - INSERT INTO                     → Snapshots.append
  //  - INSERT OVERWRITE (dynamic mode) → Snapshots.commit (dynamic
  //    partition overwrite — partitions present in the frame replaced)
  //  - INSERT OVERWRITE (static mode, no/true filter) → full replace
  //  - INSERT OVERWRITE … PARTITION (c=v…) → explicit replaced prefixes
  //    (a layout-prefix of equality filters; anything else refuses)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite
      with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      import org.apache.spark.sql.connector.write.WriteBuilder
      import org.apache.spark.sql.{sources => f}

      private sealed trait Mode
      private case object Append extends Mode
      private case object Dynamic extends Mode
      private case object Replace extends Mode
      private case class Prefixes(p: Seq[String]) extends Mode
      private var mode: Mode = Append

      override def truncate(): WriteBuilder = { mode = Replace; this }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = Dynamic; this
      }
      override def overwrite(filters: Array[f.Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_.isInstanceOf[f.AlwaysTrue])) {
          mode = Replace
        } else {
          // a static PARTITION (c=v, …) spec arrives as equality filters;
          // they must name a PREFIX of the partition layout, or the
          // replaced file set is not expressible as directory prefixes
          // (V2 filters quote a name that needs it, such as `d:p`)
          def name(a: String) = org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseMultipartIdentifier(a).mkString(".")
          val eq = filters.toSeq.map {
            case f.EqualTo(a, v) => name(a) -> v
            case f.EqualNullSafe(a, v) => name(a) -> v
            case other => throw new UnsupportedOperationException(
              s"INSERT OVERWRITE with non-equality partition filter $other " +
                "— only a static PARTITION (c=v, …) spec is supported " +
                "(row-level overwrites go through MERGE/UPDATE/DELETE)")
          }.toMap
          val prefixCols = partitionCols.take(eq.size)
          if (eq.keySet != prefixCols.toSet)
            throw new UnsupportedOperationException(
              s"INSERT OVERWRITE PARTITION must bind a prefix of the " +
                s"partition layout $partitionCols (got ${eq.keySet})")
          mode = Prefixes(Seq(graft.lake.PartitionPath.of(
            SparkSession.active, StructType(prefixCols.map(tableSchema(_))),
            prefixCols.map(eq))))
        }
        this
      }

      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = mode match {
                case Append => graft.lake.Snapshots.append(data, root, table,
                  partitionCols, statsCols)
                case Dynamic => graft.lake.Snapshots.commit(data, root, table,
                  partitionCols, statsCols)
                case Replace => graft.lake.Snapshots.commitFullReplace(
                  data, root, table, statsCols, operation = "replace",
                  // the LAYOUT survives a full replace: the next insert's
                  // write shape derives from this manifest
                  partitionCols = partitionCols)
                case Prefixes(p) => graft.lake.Snapshots
                  .commitReplacingPrefixes(data, root, table, partitionCols,
                    statsCols, p)
              }
            }
        }
    }
}

/** [[ParquetTable]] whose scans support dynamic partition pruning and —
  * given a Snapshots version's loaded [[graft.lake.Sidecar]] — file-level
  * data skipping on pushed filters ([[SidecarSkip]]) and exact planner
  * statistics. A version's sidecar is immutable (committed with the
  * manifest), so the catalog's per-version table cache loads it once per
  * version.
  */
class DppParquetTable(
    name: String,
    sparkSession: SparkSession,
    options: CaseInsensitiveStringMap,
    paths: Seq[String],
    userSpecifiedSchema: Option[StructType],
    stats: Option[graft.lake.Sidecar] = None,
    mor: Option[MorRead.Spec] = None)
  extends ParquetTable(name, sparkSession, options, paths,
    userSpecifiedSchema, classOf[ParquetFileFormat]) {

  override def newScanBuilder(params: CaseInsensitiveStringMap): ParquetScanBuilder =
    new DppParquetScanBuilder(sparkSession, fileIndex, schema, dataSchema,
      params, stats, mor)
}

/** [[DppParquetTable]] whose file index is built ENTIRELY from the
  * version's manifest + sidecar — the Delta/Iceberg read path: the commit
  * recorded every live file's exact byte length, so planning needs ZERO
  * filesystem listing or stat calls (at ~10⁵ files on an object store
  * that is the difference between a metadata read and 10⁵ HEAD requests).
  * Partition values still parse from the `c=v` path segments, in memory.
  * Execution opens the data files directly, exactly as before.
  */
class ManifestIndexedParquetTable(
    name: String,
    sparkSession: SparkSession,
    options: CaseInsensitiveStringMap,
    dataDir: String,
    relFiles: Seq[String],
    tableSchema: StructType,
    stats: graft.lake.Sidecar,
    mor: Option[MorRead.Spec])
  extends DppParquetTable(name, sparkSession, options,
    relFiles.map(r => s"$dataDir/$r"), Some(tableSchema), Some(stats), mor) {

  override lazy val fileIndex
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val hadoopConf = sparkSession.sessionState.newHadoopConf()
    // qualification resolves the scheme/authority only — no remote calls
    val fsys = new Path(dataDir).getFileSystem(hadoopConf)
    val statuses: Map[Path, FileStatus] = relFiles.map { r =>
      val p = fsys.makeQualified(new Path(s"$dataDir/$r"))
      // mtime 0: nothing downstream consults it for a batch parquet read;
      // the LENGTH is the load-bearing field (split planning) and comes
      // exact from the sidecar
      p -> new FileStatus(stats.bytes(r), false, 1, 128L << 20, 0L, p)
    }.toMap
    val prefilled = new org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        statuses.get(path).map(Array(_))
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    import scala.jdk.CollectionConverters._
    new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      sparkSession, statuses.keys.toSeq,
      options.asCaseSensitiveMap().asScala.toMap, Some(tableSchema), prefilled)
  }
}
