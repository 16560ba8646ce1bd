package graft.sources

import graft.ingest.{FileStore, PushTableSink}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** CATALOG face of the cell store — the store's tables as a named
  * Spark catalog, the surface a SQL user works against:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.CellsCatalog
  *   spark.sql.catalog.graft.root = /path/to/store
  *
  *   CREATE TABLE graft.ns.tbl (rowkey BINARY, version BIGINT, body BINARY)
  *   INSERT INTO graft.ns.tbl SELECT ...
  *   SELECT * FROM graft.ns.tbl WHERE rowkey = X'...'   -- point GET
  * }}}
  *
  * Identifiers map to HBase-style names: `graft.ns.tbl` → store table
  * `ns:tbl` (the namespace levels join with ':'), so the catalog
  * addresses exactly what [[graft.ingest.FileStore]] stores. All the
  * connector's pushdown (version-by-filename, point GET, prefix/range
  * shard pruning, column-pruned I/O, runtime join filtering) applies
  * unchanged — the catalog wraps the same [[CellsTable]].
  *
  * STORAGE-PARTITIONED JOINS (the reason this is a FunctionCatalog
  * too): a catalog-loaded scan reports `KeyGroupedPartitioning` over
  * `graft_shard_<layout>(rowkey)` — the table's own region assignment
  * as a V2 function — and every input partition carries its region
  * index as its partition key. Two tables sharing a split layout
  * report the SAME function (the canonical name embeds the layout
  * fingerprint) over compatible partition values, so under
  * `spark.sql.sources.v2.bucketing.enabled` Catalyst's
  * EnsureRequirements plans `a JOIN b ON a.rowkey = b.rowkey` with NO
  * exchange on either side — the co-located region join
  * ([[ColocatedCells]]'s hand-built plan) discovered by the optimizer
  * itself. Different layouts get different function names, so SPJ
  * correctly declines and shuffles. At 100 TB this is the difference
  * between shuffling two store-sized tables and joining region-by-
  * region where the data already lives.
  *
  * The function resolves layouts from the store root on demand (the
  * recorded `_splits.json`, or the default 256 first-byte layout), so
  * function resolution needs no session state beyond the catalog.
  */
class CellsCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"catalog $name requires option root (spark.sql.catalog.$name.root)")
    // default-on MERGE/UPDATE source-key pruning: registering the
    // catalog is the user's opt-in to this connector, so the session
    // gets the batched-GET row-level plan without a manual install
    // (idempotent; the rule no-ops on every non-row-level plan).
    // getActiveSession can be empty when the catalog is first touched
    // off-thread — loadTable retries the install as a fallback, and
    // path-based sessions may call MergeSourcePruning.install directly.
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(MergeSourcePruning.install)
  }

  /** Fallback install for sessions whose catalog initialized on a
    * thread without an active SparkSession (ADVICE r14): every table
    * load — the step a row-level statement cannot skip — retries
    * idempotently, so the batched-GET MERGE plan is present by the
    * time any WriteDelta is optimized. */
  private def ensureRuleInstalled(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(MergeSourcePruning.install)

  override def name(): String = catalogName

  /** `graft.ns.tbl` → store name `ns:tbl`; `graft.tbl` → `tbl`. */
  private def tableNameOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(":")

  private def dirOf(storeName: String) = Paths.get(root, storeName.replace(':', '~'))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString.replace('~', ':'))
      .filterNot(_.startsWith("_")) // staging/meta dirs are not tables
      .map { full =>
        val parts = full.split(':')
        Identifier.of(parts.init, parts.last)
      }
      .filter(_.namespace().sameElements(namespace))
      .toArray
    finally s.close()
  }

  // ---------------------------------------------------- namespaces
  // The HBase namespace model: one level deep, `ns:tbl` store names.
  // A namespace EXISTS if a table carries it or a `_ns~<name>` marker
  // records an explicit CREATE NAMESPACE (so empty namespaces survive
  // a restart, like hbase's create_namespace before any table).
  private def nsMarker(ns: String) = Paths.get(root, s"_ns~$ns")
  private def namespacesOnDisk: Set[String] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Set.empty
    val s = Files.list(dir)
    try s.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (!Files.isDirectory(p)) None
      else if (n.startsWith("_ns~")) Some(n.stripPrefix("_ns~"))
      else if (n.startsWith("_")) None
      else {
        val full = n.replace('~', ':')
        if (full.contains(':')) Some(full.split(':').head) else None
      }
    }.toSet
    finally s.close()
  }

  override def listNamespaces(): Array[Array[String]] =
    namespacesOnDisk.toArray.sorted.map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // one level deep
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      catalogName +: namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.length == 1 && namespacesOnDisk.contains(namespace(0)))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace)
    val m = new java.util.HashMap[String, String]()
    if (namespace.length == 1)
      m.put("tables", listTables(namespace).length.toString)
    m
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"the store's namespace model is one level deep, got ${namespace.mkString(".")}")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        catalogName +: namespace)
    Files.createDirectories(nsMarker(namespace(0)))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "store namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.length != 1) return false
    val tables = listTables(namespace)
    if (tables.nonEmpty) {
      if (!cascade)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          catalogName +: namespace)
      tables.foreach(dropTable)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(nsMarker(namespace(0)).toFile)
    true
  }

  override def loadTable(ident: Identifier): Table = load(ident, asOf = None)

  /** SQL time travel — `SELECT … FROM cat.tbl VERSION AS OF <v>`:
    * the snapshot at version `v` is the filename-pruned slice
    * `version <= v`, the store's native time-travel read path (sealed
    * newer generations are never opened). */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, asOf = Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF over a graft table takes a numeric cell version, got '$version'"))))

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROS; store versions
    * are the ingest pipeline's epoch MILLIS, so the snapshot bound is
    * micros/1000. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, asOf = Some(timestampMicros / 1000L))

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    ensureRuleInstalled()
    // `tbl$changes` is the VIRTUAL edit-log face of `tbl` (the
    // Iceberg-style metadata-table suffix): unmasked puts + op='delete'
    // marker rows — the change feed, queryable in SQL. Composes with
    // time travel: `tbl$changes VERSION AS OF v` is the edit log up to
    // and including version v (a bounded WAL replay).
    //
    // `tbl$latest` is the CURRENT-STATE face: each key's max-version
    // LIVE cell — the HBase serving read (Get/Scan return the newest
    // version by default; reference contract HbaseClient.kt:83-92) as
    // a SQL table, where the base table is the full version history.
    // Composes with time travel: `tbl$latest VERSION AS OF v` is the
    // as-of-v serving view (the snapshot applies BEFORE the metadata
    // face). Latest-per-key is shard-local (a key lives in exactly one
    // region), so the face keeps KeyGroupedPartitioning and
    // `a$latest JOIN b$latest` storage-partition-joins with no
    // exchange.
    // `tbl$versions` is the STORE-FILE INVENTORY face (one row per
    // store file from listings + trailers — see [[CellsVersionsTable]]):
    // `max(max_version)` IS the table's version watermark, the
    // discoverable version list for `VERSION AS OF`.
    val changes = ident.name().endsWith("$changes")
    val latest = ident.name().endsWith("$latest")
    val versions = ident.name().endsWith("$versions")
    val baseIdent =
      if (changes) Identifier.of(ident.namespace(), ident.name().stripSuffix("$changes"))
      else if (latest) Identifier.of(ident.namespace(), ident.name().stripSuffix("$latest"))
      else if (versions) Identifier.of(ident.namespace(), ident.name().stripSuffix("$versions"))
      else ident
    val t = tableNameOf(baseIdent)
    if (!Files.isDirectory(dirOf(t))) throw new NoSuchTableException(ident)
    if (versions) {
      require(asOf.isEmpty, "the $versions inventory has no snapshot form — it lists the store NOW")
      CellsVersionsTable(root, t)
    } else
      CellsTable(root, t, changeFeed = changes, fromCatalog = true, asOf = asOf,
        latest = latest)
  }

  /** shared DDL validation + materialization for CREATE TABLE and the
    * staged CTAS/RTAS paths: shape checks, TBLPROPERTIES → TableSpec,
    * and the optional pre-split — applied under `atRoot` (the live
    * root for CREATE, an invisible staging root for CTAS/RTAS). */
  private def materializeDdl(ident: Identifier, schema: StructType,
                             partitions: Array[Transform],
                             properties: java.util.Map[String, String],
                             atRoot: String): String = {
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      CellsSource.Schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft tables have the fixed schema ${CellsSource.Schema.simpleString}; got ${schema.simpleString}")
    require(partitions.isEmpty, "graft tables partition by their split layout, not PARTITIONED BY")
    require(!ident.name().endsWith("$latest") && !ident.name().endsWith("$changes") &&
      !ident.name().endsWith("$versions"),
      "the $latest/$changes/$versions suffixes are reserved metadata faces — a literal table would shadow them")
    val t = tableNameOf(ident)
    val maxVersions = Option(properties.get("maxVersions")).flatMap(_.toIntOption)
      .getOrElse(Int.MaxValue)
    val ttlMillis = Option(properties.get("ttlMillis")).flatMap(_.toLongOption)
      .getOrElse(Long.MaxValue)
    // the shard-flush policy (hbase.hstore.compactionThreshold analog)
    // — '0' is the operator override for layout-inspecting workloads
    val compactionThreshold = Option(properties.get("compactionThreshold"))
      .flatMap(_.toIntOption).getOrElse(10)
    // the region size bound (hbase.hregion.max.filesize analog) — when
    // set, maintenance SPLITS any region past it ([[graft.ingest.
    // RegionSplit]]); default off
    val maxRegionBytes = Option(properties.get("maxRegionBytes"))
      .flatMap(_.toLongOption).getOrElse(0L)
    val store = FileStore(atRoot)
    store.ensureTable(t,
      PushTableSink.TableSpec(maxVersions = maxVersions, ttlMillis = ttlMillis,
        compactionThreshold = compactionThreshold, maxRegionBytes = maxRegionBytes))
    // PRE-SPLIT from SQL — HBase `create 'tbl', SPLITS => [...]`:
    // TBLPROPERTIES('splitPoints'='<hex>,<hex>,…') records N split
    // points → N+1 regions BEFORE any cell lands (write-once, the same
    // ensureSplits contract as the programmatic path), so two tables
    // created with the same DDL storage-partition-join and a known-hot
    // keyspace splits finer with no code anywhere
    Option(properties.get("splitPoints")).filter(_.nonEmpty).foreach { csv =>
      val points = csv.split(',').toSeq.map { hex =>
        FileStore.Splits.startOf(hex.trim).getOrElse(
          throw new IllegalArgumentException(
            s"splitPoints takes comma-separated lowercase-hex keys, got '$hex'"))
      }
      store.ensureSplits(t, FileStore.Splits.ofSplitPoints(points))
    }
    t
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val t = materializeDdl(ident, schema, partitions, properties, root)
    CellsTable(root, t, changeFeed = false, fromCatalog = true)
  }

  // ------------------------------------------------- CTAS / RTAS
  // `CREATE TABLE … AS SELECT` / `REPLACE TABLE … AS SELECT` through a
  // STAGED GENERATION (StagingTableCatalog — the protocol INSERT
  // OVERWRITE already uses, promoted to table creation): the DDL and
  // every written cell land under `<root>/_ctas_staging/<id>/` —
  // invisible to listTables and unreachable by any read face — and the
  // commit is ONE atomic directory rename (CREATE) or the two-rename
  // swap (REPLACE, exactly the q239 overwrite visibility: readers see
  // the old generation until the swap instant). A crashed or aborted
  // CTAS leaves the live root untouched; the orphaned staging
  // generation is dead weight for Vacuum, never damage. RTAS takes the
  // STATEMENT'S properties as the new table's DDL (standard REPLACE
  // semantics — the statement redefines the table).

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (Files.isDirectory(dirOf(tableNameOf(ident))))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    stageCommon(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!Files.isDirectory(dirOf(tableNameOf(ident)))) throw new NoSuchTableException(ident)
    stageCommon(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCommon(ident, schema, partitions, properties, replace = true)

  private def stageCommon(ident: Identifier, schema: StructType,
                          partitions: Array[Transform],
                          properties: java.util.Map[String, String],
                          replace: Boolean): org.apache.spark.sql.connector.catalog.StagedTable = {
    val stagingId = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val stagingRoot = Paths.get(root, "_ctas_staging", stagingId)
    Files.createDirectories(stagingRoot)
    val t = materializeDdl(ident, schema, partitions, properties, stagingRoot.toString)
    CellsStagedTable(root, stagingRoot.toString, t, replace)
  }

  /** `ALTER TABLE cat.tbl SET TBLPROPERTIES('maxVersions' = N |
    * 'ttlMillis' = T)` — the HBase `alter` retention change: the
    * descriptor updates now, new puts prune to the new version cap as
    * they land, and existing over-cap/expired history goes with the
    * NEXT major compaction (eventually-applied retention; the major's
    * TTL cutoff derives from the descriptor). Everything else about
    * the DDL — and the split layout in particular — stays write-once,
    * so any other change declines loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tableNameOf(ident)
    if (!Files.isDirectory(dirOf(t))) throw new NoSuchTableException(ident)
    val store = FileStore(root)
    changes.foreach {
      case sp: TableChange.SetProperty if sp.property() == "maxVersions" =>
        store.alterMaxVersions(t, sp.value().toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"maxVersions takes an integer, got '${sp.value()}'")))
      case sp: TableChange.SetProperty if sp.property() == "ttlMillis" =>
        store.alterTtlMillis(t, sp.value().toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"ttlMillis takes a long, got '${sp.value()}'")))
      case sp: TableChange.SetProperty if sp.property() == "compactionThreshold" =>
        store.alterCompactionThreshold(t, sp.value().toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"compactionThreshold takes an integer, got '${sp.value()}'")))
      case sp: TableChange.SetProperty if sp.property() == "maxRegionBytes" =>
        store.alterMaxRegionBytes(t, sp.value().toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"maxRegionBytes takes a long, got '${sp.value()}'")))
      case other =>
        throw new UnsupportedOperationException(
          "graft tables support ALTER TABLE SET TBLPROPERTIES" +
            s"('maxVersions'=N | 'ttlMillis'=T | 'compactionThreshold'=N | " +
            s"'maxRegionBytes'=B) only; got $other")
    }
    CellsTable(root, t, changeFeed = false, fromCatalog = true)
  }

  override def dropTable(ident: Identifier): Boolean = {
    require(!ident.name().endsWith("$latest") && !ident.name().endsWith("$changes") &&
      !ident.name().endsWith("$versions"),
      "metadata faces cannot be dropped — drop the base table")
    val dir = dirOf(tableNameOf(ident))
    Files.isDirectory(dir) && org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables do not rename (rowkeys embed no table name, but readers may hold segment paths)")

  // ----------------------------------------------------- procedures

  /** `CALL cat.compact_major(table => 't')` etc — maintenance as SQL
    * ([[CellsProcedures]]): compactions, backups, restore, all against
    * THIS catalog's root. Accepted under the empty namespace and the
    * conventional `system` one. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace().isEmpty || ident.namespace().sameElements(Array("system"))
    if (!ok) throw new RuntimeException(s"no such procedure: $ident")
    CellsProcedures.all(root).getOrElse(ident.name(),
      throw new RuntimeException(s"no such procedure: $ident — " +
        s"available: ${CellsProcedures.all(root).keys.toSeq.sorted.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      CellsProcedures.all(root).keys.toArray.sorted.map(Identifier.of(namespace, _))
    else Array.empty

  // ------------------------------------------------------ functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    // every listed name must loadFunction: the default layout's
    // fingerprinted instance stands for the family
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty,
        s"graft_shard_${CellsCatalog.fingerprintOf(FileStore.Splits.Default)}"),
        Identifier.of(Array.empty, "rowkey_of"))
    else Array.empty

  /** Resolve `graft_shard_<fingerprint>` back to its split layout by
    * scanning the root's recorded layouts (plus the default) — the
    * fingerprint is content-derived, so resolution is deterministic
    * from disk and needs no session registry. */
  override def loadFunction(ident: Identifier): UnboundFunction = {
    val n = ident.name()
    if (n == "rowkey_of") return CellsCatalog.RowkeyOfUnbound
    if (!n.startsWith("graft_shard_"))
      throw new NoSuchFunctionException(ident)
    val fp = n.stripPrefix("graft_shard_")
    CellsCatalog.layoutByFingerprint(root, fp) match {
      case Some(splits) => CellsCatalog.ShardUnbound(splits, fp)
      case None => throw new NoSuchFunctionException(ident)
    }
  }
}

/** The CTAS/RTAS staged generation ([[CellsCatalog.stageCreate]]): a
  * fully-functional cells table living under an invisible staging
  * root. Every write physics (atomic per-cell renames, W1 batching,
  * the flush hook against the staged DDL) applies unchanged — the only
  * difference is WHERE, and the commit that makes it a table:
  *
  *  - CREATE commit: ONE atomic rename staging→live — a crash at any
  *    earlier instant leaves NO table (underscore roots are invisible
  *    to listTables and every read face); a concurrent CREATE of the
  *    same name loses the rename race and fails loudly.
  *  - REPLACE commit: the q239 two-rename swap (live→trash,
  *    staged→live) — readers of the old generation serve it until the
  *    swap instant; the only non-atomic window is between the two
  *    renames, exactly the INSERT OVERWRITE contract.
  *
  * Abort (query failure, driver crash) deletes/orphans only staging;
  * [[graft.ingest.Vacuum]] sweeps aged `_ctas_staging` generations
  * like overwrite debris. */
case class CellsStagedTable(liveRoot: String, stagingRoot: String, table: String,
                            replace: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable with SupportsWrite {
  private val inner = CellsTable(stagingRoot, table, fromCatalog = true)
  override def name(): String = s"graft-cells:$table (staged)"
  override def schema(): StructType = CellsSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = inner.newWriteBuilder(info)

  /** test seam: runs between REPLACE's two commit renames — the one
    * non-atomic instant, so specs can pin exactly what a crash there
    * leaves (no live dir; trash + staged recoverable by an operator,
    * sweepable by Vacuum). */
  private[graft] var betweenRenames: () => Unit = () => ()

  override def commitStagedChanges(): Unit = {
    val mangled = table.replace(':', '~')
    val staged = Paths.get(stagingRoot, mangled)
    val live = Paths.get(liveRoot, mangled)
    if (replace) {
      val trash = Paths.get(liveRoot, "_overwrite_trash",
        "ctas-" + Paths.get(stagingRoot).getFileName.toString, mangled)
      Files.createDirectories(trash.getParent)
      if (Files.isDirectory(live))
        Files.move(live, trash, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      betweenRenames()
      Files.move(staged, live, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteQuietly(trash.getParent.toFile)
    } else {
      try Files.move(staged, live, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // lost a concurrent-CREATE race: the rename refuses an existing
        // (non-empty) target — FileAlreadyExistsException or ENOTEMPTY
        // depending on the filesystem. The staged generation stays
        // orphaned (Vacuum's), the statement fails loudly.
        case _: java.nio.file.FileSystemException if Files.isDirectory(live) =>
          throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
            org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, table))
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(stagingRoot).toFile)
  }

  override def abortStagedChanges(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(stagingRoot).toFile)
}

object CellsCatalog {

  /** content fingerprint of a split layout — embedded in the shard
    * function's name so SPJ compatibility (canonicalName equality) is
    * exactly layout equality. */
  def fingerprintOf(splits: FileStore.Splits): String = splits.fingerprint

  // fingerprint → layout memo, per (root, fp). Layouts are WRITE-ONCE
  // (ensureSplits), so a positive hit can never go stale; only misses
  // re-scan the root (a table recorded after the miss must resolve).
  // Without this, every function resolution re-read every table's
  // _splits.json — planning-time-only cost, but quadratic-feeling on a
  // thousand-table root.
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), FileStore.Splits]()

  /** find a layout with the given fingerprint: the default layout or
    * any table's recorded `_splits.json` under the root. */
  private[sources] def layoutByFingerprint(root: String, fp: String): Option[FileStore.Splits] = {
    if (fingerprintOf(FileStore.Splits.Default) == fp) return Some(FileStore.Splits.Default)
    val hit = layoutCache.get((root, fp))
    if (hit != null) return Some(hit)
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return None
    val s = Files.list(dir)
    val found =
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .flatMap { t =>
          val p = t.resolve("_splits.json")
          if (!Files.isRegularFile(p)) None
          else
            try Some(FileStore.Splits.fromJson(new String(Files.readAllBytes(p), "UTF-8")))
            catch { case _: Exception => None }
        }
        .find(sp => fingerprintOf(sp) == fp)
      finally s.close()
    found.foreach(sp => layoutCache.put((root, fp), sp))
    found
  }

  /** `cat.rowkey_of('<id json>')` — the ingest engine's K2/K3 rowkey
    * derivation (CRC32-BE prefix ++ key-sorted compact JSON, the exact
    * [[graft.core.Rowkey]] bytes every cell was written under) as a
    * CATALOG SQL FUNCTION, so a SERVING point GET needs no Scala:
    * `SELECT … WHERE rowkey = cat.rowkey_of('{"id":"X"}')`. The
    * function is deterministic over a literal, so Catalyst CONSTANT-
    * FOLDS the call and the comparison reaches the connector as an
    * ordinary point predicate — one shard directory, one probed
    * digest, the full q225 pruning tier (gate-pinned by file opens).
    * Reference contract: HBaseRecord key derivation
    * (`reference:src/main/kotlin/app/batch/HBaseWriter.kt` via
    * Rowkey/K3). */
  case object RowkeyOfUnbound extends UnboundFunction {
    override def name(): String = "rowkey_of"
    override def description(): String =
      "rowkey bytes of a record id (CRC32-BE prefix ++ canonical id JSON)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == org.apache.spark.sql.types.StringType,
        s"rowkey_of binds to one STRING id, got ${inputType.simpleString}")
      RowkeyOfFunction
    }
  }

  case object RowkeyOfFunction extends ScalarFunction[Array[Byte]] {
    override def inputTypes(): Array[DataType] =
      Array(org.apache.spark.sql.types.StringType)
    override def resultType(): DataType = org.apache.spark.sql.types.BinaryType
    override def name(): String = "rowkey_of"
    override def canonicalName(): String = "graft.rowkey_of"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Array[Byte] =
      graft.functions.HdiRowkey.compute(input.getUTF8String(0).toString)
  }

  final case class ShardUnbound(splits: FileStore.Splits, fp: String) extends UnboundFunction {
    override def name(): String = s"graft_shard_$fp"
    override def description(): String =
      s"region index of a rowkey under split layout $fp (${splits.size} regions)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 && inputType.fields(0).dataType == BinaryType,
        s"graft_shard binds to one BINARY rowkey, got ${inputType.simpleString}")
      ShardFunction(splits.starts.map(_.clone()).toArray, fp)
    }
  }

  /** rowkey → region index under a fixed layout. Deterministic and
    * layout-fingerprinted: two scans report the SAME canonical
    * function iff their tables share a split layout — the SPJ
    * compatibility rule. */
  final case class ShardFunction(starts: Array[Array[Byte]], fp: String)
      extends ScalarFunction[Integer] {
    @transient private lazy val splits = FileStore.Splits(starts.toVector)
    override def inputTypes(): Array[DataType] = Array(BinaryType)
    override def resultType(): DataType = IntegerType
    override def name(): String = s"graft_shard_$fp"
    override def canonicalName(): String = s"graft.$name"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      Int.box(splits.shardIdxOf(input.getBinary(0)))
  }
}
