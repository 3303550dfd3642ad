package graft.sql

import graft.lake.Sidecar
import graft.sql.GraftCatalog.widenPartitionInts
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL catalog over the [[graft.lake.Lake]] layout — the surface a Spark
  * user expects from a table store: `spark.sql("SELECT … FROM
  * graft.daily_ticks")` instead of path-shaped Scala calls. (Reference
  * precedent: `TicksClient` as the user-facing query API,
  * storage/clients/ticks.py:59-316 — here the client's read half becomes
  * a first-class catalog any SQL tool can address.)
  *
  * A DataSource-V2 `TableCatalog` whose identifiers map to the lake's
  * `<root>/<table>` parquet directories; `loadTable` delegates to Spark's
  * own `ParquetTable`, so every scan gets the full V2 read machinery —
  * schema/partition inference from the Hive layout, filter + column
  * pushdown, static partition pruning, and runtime (dynamic) partition
  * pruning on join keys — identical plans to a direct `spark.read`.
  *
  * Registration is the standard catalog plugin point (a session conf, the
  * mechanism Spark reserves for catalogs — `SparkSessionExtensions` has no
  * catalog injector):
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sql.GraftCatalog
  *   spark.sql.catalog.graft.root = s3://bucket/lake    (or any FS URI)
  * }}}
  *
  * or at runtime via [[GraftCatalog.install]]. The lake root is re-read
  * from the live session conf on every table load (Spark caches catalog
  * INSTANCES per name, so a fixture-rotating test or a multi-lake session
  * can repoint `…​.root` without a new session).
  *
  * Writes and DDL route through the snapshot commit protocol — never a
  * raw directory write: `CREATE TABLE [PARTITIONED BY]` publishes v1 as
  * an empty manifest ([[graft.lake.Snapshots.createTable]]), CTAS is
  * that plus Spark's own write onto the returned table, `INSERT` /
  * `DELETE` / `UPDATE` / `MERGE` map onto protocol verbs (see the
  * DML `loadTable` overload), `DROP TABLE` deletes the manifests
  * and data with vacuum-to-zero semantics, and `ALTER TABLE … RENAME TO`
  * moves the manifest + table directories (full history survives).
  * `ALTER TABLE` column changes stay additive-only (`ADD COLUMNS`);
  * column renames/drops/type changes are refused — without
  * logical→physical column mapping they would corrupt old versions'
  * reads.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var initialRoot: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initialRoot = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** Live root: the session conf wins (re-pointable), the initialize-time
    * option is the fallback (static `spark-defaults.conf` deployments).
    */
  private def root: String = {
    val fromConf = SparkSession.active.conf
      .getOption(s"spark.sql.catalog.$catalogName.root")
    fromConf.orElse(initialRoot).getOrElse(throw new IllegalArgumentException(
      s"set spark.sql.catalog.$catalogName.root to the lake root path"))
  }

  private def requireTopLevel(namespace: Array[String]): Unit =
    if (!(namespace.isEmpty || namespace.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(namespace)

  private def tablePath(ident: Identifier): Path = {
    requireTopLevel(ident.namespace)
    new Path(s"$root/${ident.name}")
  }

  private def fs(p: Path) = p.getFileSystem(
    SparkSession.active.sessionState.newHadoopConf())

  override def tableExists(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    fs(p).exists(p)
  }

  /** A table committed through [[graft.lake.Snapshots]] (has a manifest
    * dir) resolves through its manifests — NEVER the raw directory, which
    * holds every version's files; a plain Lake table resolves as its
    * directory.
    */
  private def isVersioned(name: String): Boolean = {
    val p = new Path(s"$root/_snapshots/$name")
    fs(p).exists(p)
  }

  /** The BIGINT-widened schema for `probe`, or None when nothing widens. */
  private def widenedSchema(probe: DppParquetTable)
      : Option[org.apache.spark.sql.types.StructType] = {
    val schema = widenPartitionInts(probe.schema,
      probe.fileIndex.partitionSchema.fieldNames.toSet)
    if (schema == probe.schema) None else Some(schema)
  }

  private def widened(name: String, opts: CaseInsensitiveStringMap,
      paths: Seq[String], stats: Option[Sidecar] = None): DppParquetTable = {
    val probe = new DppParquetTable(name, SparkSession.active, opts, paths,
      userSpecifiedSchema = None, stats)
    widenedSchema(probe) match {
      case None => probe
      case Some(schema) => new DppParquetTable(name, SparkSession.active,
        opts, paths, Some(schema), stats)
    }
  }

  /** Versioned tables are CACHED per session × (root, table, version): a
    * version's manifest and sidecar are immutable once published (the
    * put-if-absent commit), so the key fully determines the table —
    * repeated SQL over the same version plans without re-running schema
    * inference or re-loading skipping stats. The latest-version lookup
    * stays live (one manifest-dir listing per query), so a new commit is
    * visible immediately; only the per-version artifacts are cached.
    * The session scope is a WEAK key (a stopped session's tables — and
    * the session itself — become collectable) and each session's cache is
    * LRU-bounded, so a wide catalog evicts cold versions instead of
    * thundering-herd re-inferring everything.
    */
  private def versionedTable(ident: Identifier, version: Long): Table = {
    val spark = SparkSession.active
    val cache = GraftCatalog.tableCacheFor(spark)
    val key = (root, ident.name, version)
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val m = graft.lake.Snapshots.manifest(spark, root, ident.name, version)
    val dataDir = s"$root/${ident.name}/data"
    val files = m.files.map(p => s"$dataDir/$p") // manifest-sized
    if (files.isEmpty) {
      // a zero-file version with a manifest schema (e.g. the result of a
      // SQL `DELETE FROM t` truncate) reads as a typed EMPTY relation —
      // the table must stay SQL-addressable, not stranded until the next
      // Scala-API commit. Pre-schema-tracking zero-file versions have no
      // authoritative schema and keep refusing.
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        s"version $version of ${ident.name} has no live files and no " +
          "manifest schema — read it via graft.lake.Snapshots.readVersion " +
          "for a schema-preserving empty relation"))
      val t: Table = new EmptySnapshotTable(s"${ident.name}@v$version",
        widenPartitionInts(sch, m.partitionCols.toSet))
      cache.synchronized { cache.putIfAbsent(key, t) }
      return t
    }
    GraftCatalog.versionedBuilds.incrementAndGet()
    // basePath keeps Hive partition-column inference working on the
    // explicit per-version file list, exactly like Snapshots.readVersion
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dataDir, "basePath", dataDir))
    // the sidecar loads once per cached version, on the driver: when it
    // records every live file's byte length, the table plans from a
    // manifest-built file index — zero listing/stat calls — and its scans
    // report exact planner statistics and skip files on pushed filters
    val sidecar = Sidecar.load(spark, root, ident.name, version)
    // manifest-carried schema (versions with schema tracking): the SQL
    // read then matches Snapshots.readVersion exactly — time travel sees
    // each version's own columns, pre-column files read null — and no
    // inference pass runs at all; only the BIGINT partition widening
    // applies on top (partition columns from the manifest's layout — no
    // second manifest read and no listing)
    val t = m.schema match {
      case Some(sch) =>
        val partCols = m.partitionLayout.toSet
        // column mapping (RENAME/DROP COLUMN): the files spell PHYSICAL
        // names — the inner table scans under the physical schema and a
        // name-translating wrapper presents the logical view. Unmapped
        // versions (no rename ever) take the identity path untouched.
        val mapped = graft.lake.ColumnMapping.isMapped(sch)
        val physSch =
          if (mapped) graft.lake.ColumnMapping.physicalSchema(sch) else sch
        val widened = widenPartitionInts(physSch, partCols)
        // merge-on-read delete vectors, resolved once per cached table:
        // the SQL scan must drop exactly the rows Snapshots.readVersion's
        // anti joins drop (MorRead applies them inside the readers).
        // Vector columns are physically named — consistent with the scan.
        val morSpec =
          if (m.deletes.isEmpty) None
          else Some(MorRead.resolve(spark, s"$root/${ident.name}/deletes",
            m.deletes, m.addedAtOf, widened))
        val innerT = sidecar match {
          case Some(idx) if m.files.forall(idx.bytes.contains) =>
            new ManifestIndexedParquetTable(s"${ident.name}@v$version",
              spark, opts, dataDir, m.files, widened, idx, morSpec)
          case _ =>
            new DppParquetTable(s"${ident.name}@v$version", spark, opts,
              files, Some(widened), sidecar, morSpec)
        }
        if (!mapped) innerT
        else new MappedReadTable(innerT, widenPartitionInts(sch, partCols))
      case None =>
        require(m.deletes.isEmpty,
          s"version $version of ${ident.name} carries delete vectors but " +
            "no manifest schema — read it via graft.lake.Snapshots.readVersion")
        widened(s"${ident.name}@v$version", opts, files, sidecar)
    }
    cache.synchronized { cache.putIfAbsent(key, t) }
    t
  }

  /** The LATEST-version read table wrapped with the streaming-write half
    * ([[StreamingSnapshotTable]]): `df.writeStream.toTable` resolves the
    * table through the PLAIN `loadTable` (no write privileges), so this is
    * where `STREAMING_WRITE` must live. Reads delegate to the same cached
    * versioned table; the wrapper itself is cached per version too (a
    * distinct `\u0000stream` key in the same LRU — filesystem table names
    * cannot contain NUL), so relation identity stays stable across loads.
    * Time-travel loads stay unwrapped — a pinned historical version is
    * not a write target.
    */
  private def streamableTable(ident: Identifier, version: Long): Table = {
    val spark = SparkSession.active
    val cache = GraftCatalog.tableCacheFor(spark)
    val key = (root, ident.name + "\u0000stream", version)
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val delegate = versionedTable(ident, version)
      .asInstanceOf[Table with org.apache.spark.sql.connector.catalog.SupportsRead]
    val r = root
    val id = ident
    val t: Table = new StreamingSnapshotTable(delegate, r, ident.name,
      () => insertShape(id))
    cache.synchronized { cache.putIfAbsent(key, t) }
    t
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata table: `SELECT * FROM <catalog>.<t>.history`
    // (identifier arrives as namespace=[t], name=history) — one row per
    // live version, manifest-only driver work surfaced as a LocalScan
    if (ident.namespace.length == 1 && ident.name == "history" &&
        isVersioned(ident.namespace.head))
      return new HistoryMetadataTable(root, ident.namespace.head)
    // `SELECT * FROM <catalog>.<t>.files` — per-version file introspection
    // (path, size, rows, added-at attribution, min/max stats) from the
    // manifest + stats sidecar alone; `spark.graft.files.version` pins a
    // historical version (default latest), resolved at load time like the
    // change-feed window
    if (ident.namespace.length == 1 && ident.name == "files" &&
        isVersioned(ident.namespace.head)) {
      val spark = SparkSession.active
      val t = ident.namespace.head
      val v = spark.conf.getOption("spark.graft.files.version").map(_.toLong)
        .orElse(graft.lake.Snapshots.latestVersion(spark, root, t))
        .getOrElse(throw new NoSuchTableException(
          Seq(catalogName) ++ ident.namespace :+ ident.name))
      return new FilesMetadataTable(root, t, v)
    }
    // batch change feed: `SELECT * FROM <catalog>.<t>.changes` — the
    // version window comes from session confs, resolved HERE (table-load
    // time) so the analyzed relation is immune to later conf changes
    if (ident.namespace.length == 1 && ident.name == "changes" &&
        isVersioned(ident.namespace.head)) {
      val spark = SparkSession.active
      val t = ident.namespace.head
      // version confs win; timestamp confs resolve through the manifests'
      // portable commit times (the TIMESTAMP AS OF machinery): start =
      // first version committed AT/AFTER the instant, end = last version
      // committed at/before it — an end instant predating v1 yields an
      // empty window, not an error
      val start = spark.conf.getOption("spark.graft.changes.startVersion")
        .map(_.toLong)
        .orElse(spark.conf
          .getOption("spark.graft.changes.startTimestampMillis")
          .map(_.toLong).map(ts => graft.lake.Snapshots
            .versionAsOf(spark, root, t, ts - 1).map(_ + 1).getOrElse(1L)))
        .getOrElse(1L)
      val end = spark.conf.getOption("spark.graft.changes.endVersion")
        .map(_.toLong)
        .orElse(spark.conf
          .getOption("spark.graft.changes.endTimestampMillis")
          .map(_.toLong).map(ts => graft.lake.Snapshots
            .versionAsOf(spark, root, t, ts).getOrElse(0L)))
        .orElse(graft.lake.Snapshots.latestVersion(spark, root, t))
        .getOrElse(throw new NoSuchTableException(
          Seq(catalogName) ++ ident.namespace :+ ident.name))
      val skip = spark.conf.getOption("spark.graft.changes.skipChangeCommits")
        .exists(_.toBoolean)
      return new ChangesMetadataTable(root, t, start, end, skip)
    }
    val p = tablePath(ident)
    if (!fs(p).exists(p))
      throw new NoSuchTableException(Seq(catalogName) ++ ident.namespace :+ ident.name)
    if (isVersioned(ident.name)) {
      val latest = graft.lake.Snapshots
        .latestVersion(SparkSession.active, root, ident.name)
        .getOrElse(throw new NoSuchTableException(
          Seq(catalogName) ++ ident.namespace :+ ident.name))
      return streamableTable(ident, latest)
    }
    val path = p.toString
    widened(ident.name,
      new CaseInsensitiveStringMap(java.util.Map.of("path", path)), Seq(path))
  }

  /** DML resolves tables through this overload with the requested write
    * privileges, and every admitted verb routes through the snapshot
    * commit protocol on a Snapshots-VERSIONED table:
    *
    *  - `INSERT INTO` (INSERT privilege alone) → [[SnapshotInsertTable]]
    *    → `Snapshots.append`: partition clustering, put-if-absent
    *    manifest, stats-sidecar continuity;
    *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` (privilege sets touching
    *    DELETE or UPDATE) → [[SnapshotDmlTable]]: DELETE executes as a
    *    merge-on-read vector (`Snapshots.deleteWhere`); UPDATE and MERGE
    *    are rewritten by [[SnapshotUpdateRule]]/[[SnapshotMergeRule]]
    *    (session extensions) onto base-pinned, partition-pruned commits.
    *
    * Writes against a PLAIN lake table stay refused: they would land
    * files the partition clustering never shaped and no manifest records.
    */
  override def loadTable(ident: Identifier,
      writePrivileges: java.util.Set[
        org.apache.spark.sql.connector.catalog.TableWritePrivilege]): Table = {
    import org.apache.spark.sql.connector.catalog.TableWritePrivilege._
    val privs = writePrivileges
    val known = java.util.EnumSet.of(INSERT, UPDATE, DELETE)
    if (privs.isEmpty || !known.containsAll(privs)) readOnly(
      s"$privs — only INSERT INTO / DELETE FROM / MERGE INTO a " +
        "Snapshots-versioned table go through the snapshot commit protocol")
    else if (!isVersioned(ident.name)) readOnly(
      s"$privs into a non-versioned table (commit it via graft.lake.Snapshots first)")
    // INSERT INTO asks {INSERT}; INSERT OVERWRITE asks {INSERT, DELETE} —
    // both are write shapes of SnapshotInsertTable (append / the three
    // overwrite verbs). Row-level statements (UPDATE/MERGE ask UPDATE,
    // DELETE FROM asks {DELETE}) resolve the SupportsDelete DML table.
    else if (privs.contains(INSERT) && !privs.contains(UPDATE))
      insertTable(ident)
    else dmlTable(ident)
  }

  /** DELETE/MERGE resolution of a versioned table: schema + lake identity
    * + `SupportsDelete`. See [[SnapshotDmlTable]].
    */
  private def dmlTable(ident: Identifier): Table = {
    val (_, partitionCols, statsCols) = insertShape(ident)
    val latest = graft.lake.Snapshots
      .latestVersion(SparkSession.active, root, ident.name).get
    val read = versionedTable(ident, latest)
      .asInstanceOf[Table with org.apache.spark.sql.connector.catalog.SupportsRead]
    new SnapshotDmlTable(ident.name, root, ident.name,
      partitionCols, statsCols, read)
  }

  /** Writable (append-only) view of a versioned table's LATEST version:
    * reads resolve through the manifest like any versioned read; the
    * write half routes through `Snapshots.commit` with the table's
    * partition layout and the previous sidecar's stats columns, so stats
    * skipping keeps working across SQL appends.
    */
  private def insertTable(ident: Identifier): Table = {
    val (schema, partitionCols, statsCols) = insertShape(ident)
    new SnapshotInsertTable(ident.name,
      schema, root, ident.name, partitionCols, statsCols)
  }

  /** The lake identity of a versioned table as a bare [[SnapshotDmlTarget]]
    * — used by the row-level rules when the analyzer REBUILT the target
    * relation around a plain read table: ResolveMergeIntoSchemaEvolution
    * reloads the table via the privilege-less `loadTable(ident)` after
    * evolving the schema, which loses the DML table wrapper. None for
    * non-versioned tables (those never resolve a DML shape).
    */
  private[sql] def dmlShapeFor(ident: Identifier): Option[SnapshotDmlTarget] =
    if (ident.namespace.nonEmpty || !isVersioned(ident.name)) None
    else {
      val (_, partitionCols, statsCols) = insertShape(ident)
      val r = root
      Some(new SnapshotDmlTarget {
        override def lakeRoot: String = r
        override def lakeTable: String = ident.name
        override def lakePartitionCols: Seq[String] = partitionCols
        override def lakeStatsCols: Seq[String] = statsCols
      })
    }

  /** The write-side shape of a versioned table: its COMMITTED (unwidened)
    * schema — the append's additive-evolution check type-matches incoming
    * columns against the manifest schema, so DML must ask for exactly
    * those types — plus the manifest's partition layout and the stats
    * columns the latest sidecar tracks (for skipping continuity across
    * writes; a truncated version's sidecar keeps them, so the first INSERT
    * after a truncate keeps deriving skipping stats).
    */
  private def insertShape(ident: Identifier)
      : (org.apache.spark.sql.types.StructType, Seq[String], Seq[String]) = {
    val spark = SparkSession.active
    val latest = graft.lake.Snapshots
      .latestVersion(spark, root, ident.name)
      .getOrElse(throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace :+ ident.name))
    val m = graft.lake.Snapshots.manifest(spark, root, ident.name, latest)
    val schema = m.schema.getOrElse {
      // a manifest that predates schema tracking: infer from the files. A
      // zero-file one has nothing to infer from and refuses — guessing a
      // layout would corrupt directory inference
      if (m.files.isEmpty) throw new IllegalStateException(
        s"version $latest of ${ident.name} has no live files and no " +
          "manifest schema to derive a write layout from — commit the " +
          "first rows via graft.lake.Snapshots")
      val dataDir = s"$root/${ident.name}/data"
      new DppParquetTable(s"${ident.name}@v$latest", spark,
        new CaseInsensitiveStringMap(
          java.util.Map.of("path", dataDir, "basePath", dataDir)),
        m.files.map(p => s"$dataDir/$p"), userSpecifiedSchema = None).schema
    }
    (schema, m.partitionLayout, Sidecar.load(spark, root, ident.name, latest)
      .map(_.statsCols).getOrElse(Nil))
  }

  /** Time travel: `SELECT … FROM graft.t VERSION AS OF 2` — resolves the
    * Snapshots manifest of that version ("v2" also accepted).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireTopLevel(ident.namespace)
    if (!isVersioned(ident.name))
      throw new UnsupportedOperationException(
        s"${ident.name} is not a Snapshots-versioned table — VERSION AS OF " +
          "needs a manifest history (graft.lake.Snapshots.commit)")
    versionedTable(ident, version.stripPrefix("v").toLong)
  }

  /** Wall-clock time travel: `… TIMESTAMP AS OF '<instant>'` — the latest
    * version PUBLISHED at or before the instant (manifest mtime = the
    * atomic put-if-absent publish point). `timestamp` arrives in
    * microseconds since the epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    requireTopLevel(ident.namespace)
    if (!isVersioned(ident.name))
      throw new UnsupportedOperationException(
        s"${ident.name} is not a Snapshots-versioned table — TIMESTAMP AS " +
          "OF needs a manifest history (graft.lake.Snapshots.commit)")
    val v = graft.lake.Snapshots
      .versionAsOf(SparkSession.active, root, ident.name, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace :+ ident.name))
    versionedTable(ident, v)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireTopLevel(namespace)
    val base = new Path(root)
    val f = fs(base)
    if (!f.exists(base)) return Array.empty
    f.listStatus(base).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(s => Identifier.of(Array.empty, s.getPath.getName))
      .sortBy(_.name)
      .toArray
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only catalog: $op goes through graft.lake.Lake/Snapshots")

  /** `CREATE TABLE [PARTITIONED BY (c, …)]` — provision v1 as a zero-file
    * manifest with the declared schema and identity partition layout
    * ([[graft.lake.Snapshots.createTable]]; the q225 machinery makes the
    * empty version fully addressable). CTAS arrives as this plus Spark's
    * own write onto the returned table — which is the INSERT write shape
    * ([[SnapshotInsertTable]]), so the CTAS data lands as a protocol
    * append (partition clustering, put-if-absent manifest). Only identity
    * (plain column) partitioning maps onto the lake's Hive directory
    * layout; bucket/temporal transforms refuse loudly.
    */
  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    requireTopLevel(ident.namespace)
    val partCols: Seq[String] = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case other => throw new UnsupportedOperationException(
        "only identity (plain column) PARTITIONED BY maps onto the " +
          s"lake's Hive directory layout — got $other")
    }
    if (properties.containsKey(TableCatalog.PROP_LOCATION))
      throw new UnsupportedOperationException(
        s"LOCATION is not supported: tables live at <$catalogName root>/<name>")
    if (isVersioned(ident.name) ||
        graft.lake.Snapshots.latestVersion(SparkSession.active, root,
          ident.name).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    graft.lake.Snapshots.createTable(SparkSession.active, root, ident.name,
      schema, partCols)
    // same post-action eviction as dropTable, for the CREATE OR REPLACE
    // path: a reader racing the replace must not pin the dropped table's
    // versions onto the re-created one
    GraftCatalog.invalidate(root, ident.name)
    // the returned table is the WRITE shape: CTAS immediately appends to
    // it; a plain CREATE's next lookup goes through loadTable as usual
    new SnapshotInsertTable(ident.name, schema, root, ident.name,
      partCols, Seq.empty)
  }

  /** `DROP TABLE` — vacuum-to-zero semantics, by design: the manifests,
    * stats sidecars, data files, and delete vectors are deleted
    * immediately (time travel over a dropped table is gone) and every
    * cached version of the table is evicted so a re-created table never
    * serves stale files.
    */
  override def dropTable(ident: Identifier): Boolean = {
    requireTopLevel(ident.namespace)
    if (!tableExists(ident) && !isVersioned(ident.name)) return false
    // a PLAIN lake table was never created through this catalog — its
    // lifecycle belongs to graft.lake.Lake, same refusal as plain writes
    if (!isVersioned(ident.name))
      readOnly("DROP TABLE of a non-versioned table (manage it via " +
        "graft.lake.Lake)")
    GraftCatalog.invalidate(root, ident.name)
    val dropped =
      graft.lake.Snapshots.dropTable(SparkSession.active, root, ident.name)
    // invalidate AGAIN after the delete: a concurrent reader in the
    // pre-delete window (or during the two-directory delete) can
    // re-populate the (root, name, version) cache, and a re-created table
    // reaching the same version number would then serve the dropped
    // table's cached file index
    GraftCatalog.invalidate(root, ident.name)
    dropped
  }

  override def invalidateTable(ident: Identifier): Unit =
    GraftCatalog.invalidate(root, ident.name)

  /** ALTER TABLE: top-level `ADD COLUMNS` publishes a metadata-only
    * evolved version ([[graft.lake.Snapshots.evolveSchema]] — same files,
    * new schema; old files read the columns as null; this is also the
    * hook Spark's `MERGE … WITH SCHEMA EVOLUTION` resolution calls).
    * `RENAME COLUMN` and `DROP COLUMN` are metadata-only too, via
    * logical→physical column mapping
    * ([[graft.lake.Snapshots.renameColumn]]/[[graft.lake.Snapshots.dropColumn]]
    * — the Delta name-mapping design: files keep their physical column
    * names, reads and writes translate, old versions time-travel with
    * their own names, DROP hides but does not delete bytes). Type
    * changes still refuse: they would silently corrupt old versions'
    * reads.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireTopLevel(ident.namespace)
    if (!isVersioned(ident.name))
      readOnly("ALTER TABLE of a non-versioned table")
    val spark = SparkSession.active
    val (adds, others) = changes.partition(_.isInstanceOf[TableChange.AddColumn])
    others.foreach {
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        graft.lake.Snapshots.renameColumn(spark, root, ident.name,
          r.fieldNames()(0), r.newName())
        GraftCatalog.invalidate(root, ident.name)
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        graft.lake.Snapshots.dropColumn(spark, root, ident.name,
          d.fieldNames()(0))
        GraftCatalog.invalidate(root, ident.name)
      case other => readOnly(s"ALTER TABLE change $other — only top-level " +
        "ADD COLUMNS, RENAME COLUMN and DROP COLUMN map onto snapshot " +
        "schema evolution / column mapping")
    }
    val newFields = adds.map {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType, a.isNullable)
      case other => readOnly(s"ALTER TABLE change $other — only top-level " +
        "ADD COLUMNS maps onto additive snapshot schema evolution")
    }
    if (newFields.nonEmpty)
      graft.lake.Snapshots.evolveSchema(spark, root, ident.name, newFields)
    loadTable(ident)
  }
  /** `ALTER TABLE … RENAME TO …` — a manifest-directory + table-directory
    * move ([[graft.lake.Snapshots.renameTable]]): everything a manifest
    * stores is relative, so the full history (time travel included)
    * serves under the new name. Both names' cached versions are evicted
    * across sessions. COLUMN renames stay refused (see [[alterTable]]) —
    * without logical→physical column mapping they would corrupt old
    * versions' reads.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireTopLevel(oldIdent.namespace)
    requireTopLevel(newIdent.namespace)
    if (!isVersioned(oldIdent.name))
      readOnly("RENAME TABLE of a non-versioned table")
    if (tableExists(newIdent) || isVersioned(newIdent.name))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent)
    GraftCatalog.invalidate(root, oldIdent.name)
    graft.lake.Snapshots.renameTable(SparkSession.active, root,
      oldIdent.name, newIdent.name)
    // both names, after the move: old cached versions must not serve a
    // future re-created table at the old name; any pre-rename probes of
    // the new name must not linger either
    GraftCatalog.invalidate(root, oldIdent.name)
    GraftCatalog.invalidate(root, newIdent.name)
  }
}

/** The `<table>.history` metadata table (the Iceberg spelling of
  * DESCRIBE HISTORY): one row per live version, computed from the
  * manifests alone at scan time ([[graft.lake.Snapshots.historyRows]] —
  * no data file is opened) and surfaced as a DSV2 `LocalScan`, which the
  * planner executes as a driver-local table scan. History is
  * version-count-sized by construction.
  */
private[sql] class HistoryMetadataTable(root: String, table: String)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  private val schema0 = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at_millis", LongType, nullable = false),
    StructField("operation", StringType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("n_delete_vectors", LongType, nullable = false),
    StructField("n_added_files", LongType, nullable = false)))

  override def name(): String = s"$table.history"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema0
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          graft.lake.Snapshots
            .historyRows(SparkSession.active, root, table)
            .map { case (v, t, op, nf, nd, na) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](v, t,
                  op.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
                  nf, nd, na))
            }.toArray
      }
    }
}

/** The `<table>.files` metadata table — per-version FILE introspection
  * (the last piece of the Iceberg-style metadata triple beside `.history`
  * and `.changes`): one row per live file of the pinned version, with its
  * added-at attribution from the manifest and its exact byte length, row
  * count, and min/max column stats from the version's stats sidecar
  * (nulls where the sidecar predates the file or doesn't exist — the
  * same conservative absence the skipping path tolerates). Stats surface
  * as a `string → string` map (`min_<col>`/`max_<col>` rendered), so the
  * schema is stable across tables with different stats columns. All
  * driver-side manifest/sidecar work, surfaced as a `LocalScan`;
  * file-count-sized by construction.
  */
private[sql] class FilesMetadataTable(root: String, table: String,
    version: Long)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

  private val schema0 = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("added_at_version", LongType, nullable = false),
    StructField("bytes", LongType, nullable = true),
    StructField("rows", LongType, nullable = true),
    StructField("stats", MapType(StringType, StringType), nullable = true)))

  override def name(): String = s"$table.files"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema0
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val spark = SparkSession.active
          val m = graft.lake.Snapshots.manifest(spark, root, table, version)
          val addedAt = m.addedAtOf
          val sidecar = Sidecar.load(spark, root, table, version)
          m.files.sorted.map { f =>
            def longOf(per: Sidecar => Map[String, Long]): Any =
              sidecar.flatMap(per(_).get(f)).map(Long.box).orNull
            val stats = sidecar.filter(_.byFile.contains(f)).map { sc =>
              val kv = sc.boundsOf(f)
              org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
                kv.map(p => UTF8String.fromString(p._1)).toArray,
                kv.map(p => UTF8String.fromString(String.valueOf(p._2))).toArray)
            }.orNull
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(f), version,
                addedAt.getOrElse(f, 0L), longOf(_.bytes), longOf(_.rows),
                stats))
          }.toArray
        }
      }
    }
}

/** A typed EMPTY relation — the SQL read of a zero-file snapshot version
  * (a truncated table, or a dynamic overwrite that emptied everything).
  * Plans zero input partitions; the reader factory is unreachable.
  */
private[sql] class EmptySnapshotTable(tableName: String, schema0:
    org.apache.spark.sql.types.StructType)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}

  override def name(): String = tableName
  override def schema(): org.apache.spark.sql.types.StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): org.apache.spark.sql.types.StructType =
          schema0
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array.empty
        override def createReaderFactory(): PartitionReaderFactory =
          (_: InputPartition) => throw new IllegalStateException(
            "empty relation planned no partitions")
      }
    }
}

object GraftCatalog {

  /** `schema` with its INTEGER partition columns read as BIGINT.
    * Directory names carry no declared width — Spark's inference guesses
    * the narrowest int — and a narrow partition key under a bigint join
    * key wraps the key in a cast, which `PushableColumnAndNestedColumn`
    * (the extractor behind V2 runtime-filter translation) refuses:
    * dynamic partition pruning silently dies. Widening is lossless and
    * makes the common long-keyed join cast-free. Catalog reads and the
    * CDF stream both type partition columns this way.
    */
  private[sql] def widenPartitionInts(schema: org.apache.spark.sql.types.StructType,
      partCols: Set[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
    StructType(schema.fields.map { f =>
      if (partCols.contains(f.name) &&
          (f.dataType == IntegerType || f.dataType == ShortType ||
            f.dataType == ByteType)) f.copy(dataType = LongType)
      else f
    })
  }

  /** Per-version table caches (see [[GraftCatalog.versionedTable]]) —
    * shared across catalog instances, scoped per SESSION (two sessions can
    * never exchange tables). The session scope is itself an access-order
    * LRU bounded at 16 live sessions: the cached tables strongly reference
    * their SparkSession (ParquetTable holds it), so weak keys could never
    * collect anything — bounding the map is what actually caps memory in
    * session-churning deployments (a stopped session's cache is evicted
    * once 16 newer sessions have planned through the catalog). Each
    * session's cache is in turn access-order LRU bounded at 256 versions:
    * a wider catalog evicts its coldest version instead of clearing
    * everything. Vacuuming a version does not evict it (reads of a
    * retired version fail at scan time); versions are immutable otherwise.
    */
  private val sessionCaches = new java.util.LinkedHashMap[
      SparkSession, java.util.LinkedHashMap[(String, String, Long), Table]](
      16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession,
        java.util.LinkedHashMap[(String, String, Long), Table]]): Boolean =
      size() > 16
  }

  private[sql] def tableCacheFor(spark: SparkSession)
      : java.util.LinkedHashMap[(String, String, Long), Table] =
    sessionCaches.synchronized {
      var c = sessionCaches.get(spark)
      if (c == null) {
        c = new java.util.LinkedHashMap[(String, String, Long), Table](
            64, 0.75f, /* accessOrder = */ true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(String, String, Long), Table]): Boolean =
            size() > 256
        }
        sessionCaches.put(spark, c)
      }
      c
    }

  /** Evict every cached version of (root, table) across all sessions —
    * DROP TABLE's guard: a re-created table at the same identifier would
    * otherwise serve the dropped table's files at matching versions
    * (manifests are mtime-keyed in their own cache and safe; the TABLE
    * cache keys on (root, name, version) alone).
    */
  private[sql] def invalidate(root: String, table: String): Unit =
    sessionCaches.synchronized {
      sessionCaches.values.forEach { c =>
        c.synchronized {
          val it = c.keySet().iterator()
          while (it.hasNext) {
            val k = it.next()
            if (k._1 == root &&
                (k._2 == table || k._2 == table + "\u0000stream")) it.remove()
          }
        }
      }
    }

  /** Cache-miss counter (test observability: a repeated query over the
    * same version must not trigger a second inference/listing).
    */
  private[sql] val versionedBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Register the catalog on a live session under `name`, rooted at
    * `root` (idempotent; re-pointing the root takes effect immediately —
    * see class doc).
    */
  def install(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }
}
