package graft.io

import org.apache.spark.sql.{DataFrame, GraftManifestScan, GraftStagedWrite, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog => V2TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource-v2 catalog plugin over the graft snapshot warehouse:
  * registers the manifest-based tables into Spark's catalog framework
  * so plain SQL resolves them by name, including snapshot reads and
  * SQL writes —
  *
  *   spark.sql.catalog.graft           = graft.io.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   SELECT * FROM graft.default.fact
  *   SELECT * FROM graft.default.fact VERSION AS OF 2
  *   CREATE TABLE graft.default.agg PARTITIONED BY (yr) AS SELECT ...
  *   INSERT INTO graft.default.agg SELECT ...
  *   INSERT OVERWRITE graft.default.agg SELECT ...
  *
  * This is the reference's Iceberg catalog surface (SparkCatalog +
  * `VERSION AS OF` + create-on-first-write, reference:
  * IngestionJob.scala:16-19,80-84, README.md:143-154) re-expressed
  * over our manifest layer: loadTable materializes the snapshot's file
  * list as a parquet v2 table with `basePath` set, so partition
  * columns and pruning behave exactly as in path reads. SQL writes go
  * through the V1Write fallback (the standard DSv2 escape hatch for
  * driver-committed sinks): the write itself is TableIO's fully
  * distributed staged write, only the snapshot commit runs on the driver —
  * identical semantics to the programmatic TableIO path, INSERT INTO
  * appending a snapshot and INSERT OVERWRITE committing a logical
  * replace (prior versions stay readable).
  */
class GraftCatalog extends V2TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = "graft"
  private var catalog: TableCatalog = _

  /** The warehouse root — the view store keys off it directly. */
  private[io] def warehousePath: String = catalog.warehouse
  private[graft] def tableCatalog: TableCatalog = catalog

  // FunctionCatalog: the transform functions hidden partition specs
  // use. Spark resolves a scan's reported KeyGroupedPartitioning
  // transforms against the TABLE's catalog — without this, the
  // partitioning is silently dropped and bucket-co-located joins pay
  // two full exchanges.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    TransformFunctions.names.map(n => Identifier.of(Array.empty, n)).toArray
  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    TransformFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    catalog = TableCatalog(wh)
  }

  override def name(): String = catalogName

  private def qualified(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    catalog.listTables()
      .map(_.split('.'))
      .filter(parts => parts.init.sameElements(namespace))
      .map(parts => Identifier.of(parts.init, parts.last))
      .toArray

  override def tableExists(ident: Identifier): Boolean =
    catalog.tableExists(qualified(ident))

  /** The session's write-audit-publish branch (Iceberg's
    * `spark.wap.branch`): when set, every plain-identifier resolution
    * in this catalog lands on that branch — reads see the branch head
    * (falling back to main until the branch exists), and writes
    * (INSERT / UPDATE / DELETE / MERGE) commit branch snapshots,
    * creating the branch at the current main snapshot on first write.
    * Main is untouched until `fast_forward` publishes. Explicit
    * `VERSION AS OF` / `TIMESTAMP AS OF` stay literal (time travel
    * outranks the session default), as do metadata tables.
    */
  private def wapRef(): Option[Ref] =
    SparkSession.active.conf.getOption("spark.wap.branch")
      .map(_.trim).filter(_.nonEmpty).map(Ref.Branch)

  override def loadTable(ident: Identifier): Table = {
    val name = qualified(ident)
    val wap = wapRef().filter(_ => catalog.tableExists(name))
    wap.flatMap(r => catalog.currentVersion(name, r).map(r -> _)) match {
      case Some((r, head)) =>
        // WAP session + branch exists: the branch head IS the table.
        // Served as a clean snapshot: raw consumers of a dirty head
        // (the row-level rewrite, V1 DELETE) refuse at planning
        loadVersion(ident, head, r, writeRef = r, mergeDirty = false)
      case None =>
        catalog.currentVersion(name) match {
          // wap set but branch not yet created: read main, write forks
          case Some(v) => loadVersion(ident, v, writeRef = wap.getOrElse(Ref.Main))
          case None =>
            // Iceberg-style metadata tables: <ns>.<table>.snapshots etc.
            // parse as namespace [ns, table] + name "snapshots"
            val base = ident.namespace().mkString(".")
            if (ident.namespace().nonEmpty && MetadataTables.Names.contains(ident.name()) &&
                catalog.tableExists(base))
              MetadataTables.load(catalog, base, ident.name())
            else throw new NoSuchTableException(ident)
        }
    }
  }

  /** SQL `VERSION AS OF <n>` / `VERSION AS OF '<ref>'` lands here: a
    * non-numeric version string resolves through the table's snapshot
    * tags first, then its BRANCH heads (Iceberg refs — both kinds are
    * addressable; a tag shadowing a same-named branch is resolved as
    * the tag, documented precedence).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val name = qualified(ident)
    version.toIntOption.orElse(catalog.tags(name).get(version)) match {
      case Some(v) =>
        if (!catalog.versions(name).contains(v)) throw new NoSuchTableException(ident)
        loadVersion(ident, v)
      case None =>
        // a branch head with pending MOR deletes (branch CDC writes) is
        // served deletes-MERGED like a dirty main snapshot — a raw scan
        // would resurrect its deleted rows
        val ref = Ref.Branch(version)
        catalog.currentVersion(name, ref) match {
          case Some(head) => loadVersion(ident, head, ref)
          case None => throw new NoSuchTableException(ident)
        }
    }
  }

  /** SQL `TIMESTAMP AS OF <ts>` lands here (Spark passes MICROseconds
    * since epoch): newest snapshot committed at or before the instant
    * — commit time is the manifest's mtime (hard-linked into place
    * fully formed, so mtime == commit instant).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val name = qualified(ident)
    val v = catalog.versionAsOf(name, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    loadVersion(ident, v)
  }

  /** Materialize snapshot `version` of `ref` (a main version or a
    * branch head) as a readable table — the shared back half of
    * version, tag, and branch resolution; writes land on `writeRef`. A
    * snapshot with PENDING merge-on-read position deletes cannot be
    * served as a raw parquet scan — every read must anti-join the
    * delete positions (TableIO.mergeDeletes); applyDeletes restores
    * the pure-scan table. A branch dropped between the head listing
    * and the manifest read reports not-found.
    */
  private def loadVersion(ident: Identifier, version: Int, ref: Ref = Ref.Main,
                          writeRef: Ref = Ref.Main, mergeDirty: Boolean = true): Table = {
    val name = qualified(ident)
    val dirty = mergeDirty &&
      (try catalog.pendingDeletes(name, version, ref).nonEmpty
       catch { case scala.util.control.NonFatal(_) => false })
    val snap =
      try catalog.snapshot(name, version, ref)
      catch { case _: java.nio.file.NoSuchFileException => throw new NoSuchTableException(ident) }
    val files = snap.files
    val label = ref.snapshotLabel(version)
    // seed the stats cache from the manifest so plan-time file
    // skipping (StatsPruningScanBuilder, DML scoping) never opens a
    // footer — stats were persisted with the commit
    FileStats.prime(snap.statsByFile)
    // A declared schema (CTAS or ALTER TABLE) wins when present —
    // that's what lets ADD COLUMN surface a column the existing data
    // files don't carry yet (parquet null-fills missing columns).
    // Tables written only through the path API carry no schema.json
    // and keep schema-on-read semantics.
    // NOTE (documented simplification vs Iceberg): the CURRENT declared
    // schema and rename map apply to every snapshot, so `VERSION AS OF`
    // after an ALTER projects the post-ALTER schema rather than the
    // snapshot-time one (Iceberg versions schemas per snapshot).
    val declared =
      catalog.tableSchemaJson(name).map(DataType.fromJson(_).asInstanceOf[StructType])
    // the delegate reads by PHYSICAL (on-disk) names; logical names are
    // restored at the Table/Scan boundary (GraftTable) — renames stay
    // metadata-only while every data file keeps its at-birth column name
    val renames = catalog.renames(name)
    // The DELEGATE's read schema is forced nullable: parquet's
    // vectorized reader refuses a file that lacks a REQUIRED column
    // outright ("Required column is missing"), which would brick reads
    // of NOT NULL tables whose older files predate a defaulted column.
    // Nullable-at-read keeps the null/EXISTS_DEFAULT fill working;
    // the TABLE still reports the declared nullability (GraftTable
    // .schema), and the write paths enforce it (TableIO.applyChecks +
    // Spark's INSERT resolution) — so a null can't legally land.
    val physicalSchema = declared.map { s =>
      StructType(s.fields.map { f0 =>
        val f = renames.get(f0.name).map(p => f0.copy(name = p)).getOrElse(f0)
        f.copy(nullable = true)
      })
    }
    // Schema-on-read tables (no schema.json) merge footers: without
    // mergeSchema the SQL surface would infer from one sampled footer
    // and silently drop columns appended by schema drift. The merge is
    // TableIO's own (GraftManifestScan, on the driver, no Spark job),
    // handed to the delegate as its schema, so both read surfaces of a
    // snapshot share one schema rule and the delegate never infers —
    // nor do the file-skipped and scoped tables built from it.
    val delegate = GraftManifestScan.table(s"$catalogName.$name@$label", SparkSession.active,
      Map("basePath" -> catalog.dataPath(name)) ++
        (if (declared.isEmpty) Map("mergeSchema" -> "true") else Map.empty),
      files, physicalSchema)
    val pcols = catalog.tablePartitionCols(name)
      .getOrElse(partitionColsFromPaths(name, files))
    // Row-level operations (SQL UPDATE / MERGE INTO / DELETE) run on
    // every clean snapshot and, over a dirty one, only on the
    // unpartitioned MAIN snapshot: its merged candidates stage flat for
    // the rewrite scan (see GraftRowOpsTable). A dirty partitioned or
    // BRANCH snapshot (VERSION AS OF '<branch>') is a read surface;
    // its row-level commands refuse with the recovery step.
    // Partitioned clean tables take the layout hop at commit: the
    // staged replacement re-stages through TableIO.stageWrite
    // into the table's Hive/hidden directory arithmetic (q162).
    val pspec = catalog.readMeta(name).partitionSpec.map(PartitionTransforms.parse)
    val merged = if (dirty) Some((version, ref)) else None
    if (dirty && (pcols.nonEmpty || ref != Ref.Main))
      new GraftTable(name, catalog, delegate, pcols, declared, renames, pspec, writeRef, merged)
    else
      new GraftRowOpsTable(name, catalog, delegate, declared, renames, writeRef,
        pcols, pspec, merged)
  }

  /** Hive-style partition columns inferred from a manifest's file
    * paths (tables written via TableIO carry no declared meta).
    * Derived from EVERY file, mirroring TableIO.layoutPartitionCols: a
    * mixed-layout table must fail loudly here — trusting the first
    * file could classify a partitioned table as flat, hand it the
    * row-ops rewrite path, and flatten its layout on the next UPDATE.
    */
  private def partitionColsFromPaths(name: String, files: Seq[String]): Seq[String] = {
    val data = java.nio.file.Paths.get(catalog.dataPath(name)).toAbsolutePath.normalize
    def layoutOf(f: String): Seq[String] = {
      val rel = data.relativize(java.nio.file.Paths.get(f).toAbsolutePath.normalize)
      (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
        .filter(_.contains('=')).map(_.takeWhile(_ != '='))
    }
    files.map(layoutOf).distinct match {
      case Seq() => Seq.empty
      case Seq(one) => one
      case many => throw new IllegalStateException(
        s"table $name has files under ${many.size} different partition layouts " +
          s"(${many.map(l => if (l.isEmpty) "<flat>" else l.mkString("/")).mkString(", ")}); " +
          "declare the schema/partitioning (CREATE TABLE) to disambiguate")
    }
  }

  /** CTAS / CREATE TABLE: persist the declared schema + partitioning,
    * commit an empty first snapshot (create-on-first-write surface,
    * reference: IngestionJob.scala:80-84), and hand back a writable
    * table for the SELECT's rows.
    */
  /** Column DEFAULT values (Iceberg v3 initial/write defaults, Delta
    * column defaults): declaring the capability lets CREATE/ALTER
    * accept DEFAULT clauses; the values live as Spark's standard
    * CURRENT_DEFAULT / EXISTS_DEFAULT field metadata inside the
    * persisted schema JSON, so INSERT default resolution and the
    * parquet readers' existence-default fill work unmodified.
    */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val name = qualified(ident)
    if (catalog.tableExists(name)) throw new TableAlreadyExistsException(ident)
    // one namespace for tables and views (Spark semantics): a table
    // may not shadow an existing view
    if (ViewStore.exists(catalog.warehouse, name))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    // DDL `PARTITIONED BY (...)`: identity columns keep the classic
    // Hive layout; transform partitions (days/hours/months/years/
    // bucket/truncate) become a hidden partition SPEC — derived at
    // write, invisible to reads, pruned from source-column predicates
    val specs = partitions.toSeq.map { t =>
      val ref = t.references().headOption.map(_.fieldNames().mkString("."))
        .getOrElse(throw new IllegalArgumentException(
          s"partition transform without a column reference: $t"))
      // int argument (bucket count / truncate width) in either
      // position — DDL dialects disagree on the order
      lazy val width = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"${t.name} transform needs an integer argument: $t"))
      t.name match {
        case "identity" => PartitionTransforms.Identity(ref)
        case "days" => PartitionTransforms.Days(ref)
        case "hours" => PartitionTransforms.Hours(ref)
        case "months" => PartitionTransforms.Months(ref)
        case "years" => PartitionTransforms.Years(ref)
        case "bucket" => PartitionTransforms.Bucket(width, ref)
        case "truncate" => PartitionTransforms.Truncate(width, ref)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform in DDL: $other($ref)")
      }
    }
    val allIdentity = specs.forall(_.isInstanceOf[PartitionTransforms.Identity])
    val c0 = catalog
    c0.writeMeta(name, c0.TableMeta(
      schemaJson = Some(schema.json),
      partitionCols = Some(specs.map(_.derivedName)),
      partitionSpec = if (allIdentity) Seq.empty else specs.map(_.spec)))
    // the file index resolves basePath eagerly even for an empty table
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(catalog.dataPath(name)))
    // pinned at v1: the tableExists check above is check-then-act, and
    // two concurrent CREATEs both passing it must resolve to ONE
    // winner — the loser's v1 link fails (ConcurrentCommitException ->
    // surfaced as the standard already-exists error), instead of
    // silently landing v2 over the winner's schema
    try catalog.commitSnapshotAt(name, Seq.empty, 1)
    catch { case _: ConcurrentCommitException =>
      throw new TableAlreadyExistsException(ident) }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val name = qualified(ident)
    val existed = catalog.tableExists(name)
    if (existed) catalog.dropTable(name)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // SQL hands the rename TARGET through unresolved: a fully qualified
    // `cat.ns.t` arrives with the catalog name still leading the
    // namespace — strip it so both spellings work.
    val target =
      if (newIdent.namespace().length > 1 && newIdent.namespace().head == catalogName)
        Identifier.of(newIdent.namespace().tail, newIdent.name())
      else newIdent
    // serialize against same-process writers on BOTH paths: a rename
    // racing an in-flight write would otherwise move the directory out
    // from under the writer's staged files, and the writer's commit
    // would then resurrect the old path as a ghost one-snapshot table.
    // (Cross-process, the move itself is atomic; a racer's commit then
    // fails on the vanished path rather than ghost-writing.)
    // lock in path order so two opposite-direction renames cannot
    // deadlock on each other's held lock
    val srcPath = catalog.pathOf(qualified(oldIdent))
    val dstPath = catalog.pathOf(qualified(target))
    // self-rename would self-deadlock on the shared per-path lock
    if (srcPath == dstPath) throw new TableAlreadyExistsException(target)
    val Seq(first, second) = Seq(srcPath, dstPath).sorted.map(TableIO.writeLock)
    first.acquire()
    try {
      second.acquire()
      try {
        if (!catalog.tableExists(qualified(oldIdent))) throw new NoSuchTableException(oldIdent)
        if (catalog.tableExists(qualified(target))) throw new TableAlreadyExistsException(target)
        if (ViewStore.exists(catalog.warehouse, qualified(target)))
          throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(target)
        val dst = java.nio.file.Paths.get(catalog.pathOf(qualified(target)))
        java.nio.file.Files.createDirectories(dst.getParent)
        // manifests store table-relative paths, so the directory move IS
        // the whole rename — every snapshot stays readable at the new name
        java.nio.file.Files.move(java.nio.file.Paths.get(srcPath), dst)
      } finally second.release()
    } finally first.release()
  }

  /** Schema evolution DDL — the slice that is safe without Iceberg
    * field IDs. ADD COLUMN updates the declared schema; existing data
    * files simply null-fill the new column on read (parquet
    * schema-on-read), so no data is rewritten. DROP COLUMN narrows the
    * declared schema; the bytes stay in old files but no longer
    * project, and the dropped PHYSICAL name is recorded so a later ADD
    * COLUMN cannot resurrect the stale bytes under the same name.
    * RENAME COLUMN is metadata-only: the column keeps its at-birth
    * physical name in every data file (parquet resolves by name — we
    * deliberately don't replicate Iceberg's field-ID indirection);
    * readers alias physical -> logical and writers logical -> physical,
    * so old data appears under the new name and old snapshots stay
    * readable. Partition columns can be neither dropped nor renamed.
    *
    * Documented simplification vs Iceberg: there is ONE declared
    * schema + rename map for all snapshots — `VERSION AS OF` an old
    * version after an ALTER projects the post-ALTER schema (see
    * loadVersion).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val name = qualified(ident)
    if (!catalog.tableExists(name)) throw new NoSuchTableException(ident)
    // the whole ALTER is a read-modify-write of table meta: hold the
    // table's write lock so a concurrent set_write_order / ALTER can't
    // interleave and lose fields, and collapse the five meta reads
    // below into one catalog round-trip for the lock's duration
    catalog.locked(name)(catalog.cachedMeta { alterTableLocked(ident, name, changes) })
  }

  private def alterTableLocked(ident: Identifier, name: String,
                               changes: Seq[TableChange]): Table = {
    // tables created via the path API have no schema.json yet — seed it
    // from the current snapshot so evolution works on them too
    val current = catalog.tableSchemaJson(name)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(loadTable(ident).schema())
    val pcols = catalog.tablePartitionCols(name)
      .getOrElse(partitionColsFromPaths(name,
        catalog.currentVersion(name).map(catalog.manifest(name, _)).getOrElse(Seq.empty)))
    var schema = current
    var renames = catalog.renames(name)
    var dropped = catalog.droppedCols(name).toSet
    var checks = catalog.readMeta(name).checks
    var sortOrder = catalog.readMeta(name).sortOrder
    // conservative reference set of a CHECK predicate — DROP/RENAME of
    // a referenced column would break EVERY future write's validation
    // (analysis error on the guard), so those ALTERs refuse by name;
    // an unparseable predicate blocks (never silently allows)
    def checkRefs(pred: String): Set[String] =
      try SparkSession.active.sessionState.sqlParser.parseExpression(pred)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }.toSet
      catch { case scala.util.control.NonFatal(_) => schema.fieldNames.toSet }
    def requireNotChecked(colName: String, what: String): Unit =
      checks.find { case (_, p) => checkRefs(p).contains(colName) }.foreach {
        case (cn, p) => throw new IllegalArgumentException(
          s"cannot $what column '$colName': CHECK constraint $cn references it ($p) — " +
            "drop the constraint first")
      }
    // hidden-partition SOURCE columns are as load-bearing as the
    // layout columns themselves: the spec string and the on-disk
    // gp_* directory names both embed the source name, so dropping
    // one bricks every future write and renaming one strands the
    // spec (a rewritten spec would derive a DIFFERENT layout name
    // over the existing directories — mixed layout)
    val specSources = catalog.readMeta(name).partitionSpec
      .map(PartitionTransforms.parse(_).src).toSet
    def physOf(logical: String): String = renames.getOrElse(logical, logical)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"nested ADD COLUMN not supported: ${add.fieldNames().mkString(".")}")
        val field0 = StructField(add.fieldNames()(0), add.dataType(), add.isNullable)
        // ADD COLUMN ... DEFAULT <v> (Iceberg v3 initial/write
        // defaults, Delta column defaults): encode Spark's standard
        // CURRENT_DEFAULT (future INSERTs missing the column) and
        // EXISTS_DEFAULT (rows in files written before the column
        // existed — the parquet readers fill it instead of null)
        // into the field metadata; both persist inside schema.json.
        val field = Option(add.defaultValue()) match {
          case Some(dv) =>
            val litSql = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value, dv.getValue.dataType).sql
            field0.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(field0.metadata)
              .putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(litSql))
              .putString("EXISTS_DEFAULT", litSql)
              .build())
          case None => field0
        }
        require(!schema.fieldNames.contains(field.name),
          s"column already exists: ${field.name}")
        // ADD COLUMN ... NOT NULL over existing rows needs a value for
        // them: without a DEFAULT the fill would be null — an instant
        // standing violation (Delta refuses this the same way)
        require(add.isNullable || field.metadata.contains("EXISTS_DEFAULT") ||
            catalog.currentVersion(name).forall(v => catalog.manifest(name, v).isEmpty),
          s"cannot add NOT NULL column '${field.name}' to a non-empty table without " +
            "a DEFAULT: existing rows would read null — add a DEFAULT or add it " +
            "nullable and backfill")
        // a new column is born with physical name == its logical name;
        // live data files may still carry bytes under that name (a
        // previously dropped column, or the on-disk name of a renamed
        // one) and parquet resolves by name — adding it would read the
        // stale bytes instead of nulls
        val livePhysical = schema.fieldNames.map(physOf).toSet
        require(!dropped.contains(field.name) && !livePhysical.contains(field.name),
          s"cannot add column '${field.name}': live data files still carry bytes under this " +
            "name (previously dropped column or on-disk name of a renamed column); re-adding " +
            "it would resurrect stale values — use a new name or rewrite the table first")
        schema = StructType(schema.fields :+ field)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          s"nested DROP COLUMN not supported: ${del.fieldNames().mkString(".")}")
        val colName = del.fieldNames()(0)
        require(schema.fieldNames.contains(colName), s"no such column: $colName")
        require(!pcols.contains(colName), s"cannot drop partition column: $colName")
        require(!specSources.contains(colName),
          s"cannot drop partition-spec source column: $colName")
        // pending equality-delete entries anti-join on their key
        // columns at every read: dropping one would wedge the table
        // (merged reads and applyDeletes both fail resolving the key).
        // RENAME is fine — entries store PHYSICAL names (rename-proof,
        // spec-pinned); DROP must materialize first.
        locally {
          val phys = physOf(colName)
          val eqKeyed = catalog.refs(name).flatMap(ref =>
            catalog.currentVersion(name, ref).toSeq
              .flatMap(v => catalog.pendingDeletes(name, v, ref)))
          require(!eqKeyed.exists(_.eqKeyCols.contains(phys)),
            s"cannot drop column '$colName': pending merge-on-read equality-delete " +
              "entries key on it — run applyDeletes (on main and every dirty branch) first")
        }
        requireNotChecked(colName, "drop")
        dropped += physOf(colName)
        renames -= colName
        schema = StructType(schema.fields.filterNot(_.name == colName))
        // a dropped sort column leaves the order (Iceberg's behavior);
        // the remaining columns keep clustering writes
        sortOrder = sortOrder.filterNot(_ == colName)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          s"nested RENAME COLUMN not supported: ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(schema.fieldNames.contains(from), s"no such column: $from")
        require(!schema.fieldNames.contains(to), s"column already exists: $to")
        require(!pcols.contains(from), s"cannot rename partition column: $from")
        require(!specSources.contains(from),
          s"cannot rename partition-spec source column: $from")
        requireNotChecked(from, "rename")
        val phys = physOf(from)
        renames -= from
        if (to != phys) renames += (to -> phys) // renaming back to the birth name clears the entry
        schema = StructType(schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        // the write sort order follows the rename — a stale name would
        // silently stop clustering every future write
        sortOrder = sortOrder.map(c => if (c == from) to else c)
      case upd: TableChange.UpdateColumnType =>
        // ALTER COLUMN ... TYPE (Iceberg/Delta type widening):
        // metadata-only — existing files keep their narrow physical
        // type, Spark 4's parquet readers widen at scan time, and the
        // stats comparators already box-mix (Integer stat vs Long
        // literal, Float vs Double). Only LOSSLESS widenings are
        // accepted; anything else refuses naming the rule (a narrow
        // or lossy retype would silently corrupt values/pruning).
        require(upd.fieldNames().length == 1,
          s"nested ALTER COLUMN not supported: ${upd.fieldNames().mkString(".")}")
        val from = upd.fieldNames()(0)
        require(schema.fieldNames.contains(from), s"no such column: $from")
        require(!pcols.contains(from), s"cannot retype partition column: $from")
        require(!specSources.contains(from),
          s"cannot retype partition-spec source column: $from (directory arithmetic " +
            "depends on the source type)")
        val old = schema(from).dataType
        val nt = upd.newDataType()
        require(GraftCatalog.widens(old, nt),
          s"ALTER COLUMN $from TYPE: only lossless widenings are supported — " +
            s"${old.simpleString} -> ${nt.simpleString} is not (allowed: " +
            "byte<short<int<long, float->double, byte/short/int->double, " +
            "decimal precision growth at fixed scale)")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(dataType = nt) else f))
      case nl: TableChange.UpdateColumnNullability =>
        // NOT NULL column constraints (Delta's most-used constraint):
        // SET NOT NULL validates EXISTING rows up front (a null
        // already on disk would make every future read a lie), then
        // flips the declared nullability — Spark's own INSERT
        // resolution enforces it on SQL writes from the reported
        // schema, and TableIO.applyChecks guards programmatic writes
        // in the same pass that writes. DROP NOT NULL re-admits nulls
        // with no validation (widening the contract is always safe).
        require(nl.fieldNames().length == 1,
          s"nested ALTER COLUMN not supported: ${nl.fieldNames().mkString(".")}")
        val colName = nl.fieldNames()(0)
        require(schema.fieldNames.contains(colName), s"no such column: $colName")
        if (!nl.nullable()) {
          val io = new TableIO(SparkSession.active, catalog)
          val bad =
            if (catalog.currentVersion(name).isEmpty) 0L
            else io.read(name)
              .filter(org.apache.spark.sql.functions.col(colName).isNull)
              .limit(1).count()
          require(bad == 0L,
            s"cannot set column '$colName' NOT NULL: existing rows hold nulls — " +
              "clean them first (UPDATE/DELETE), then re-run the ALTER")
        }
        schema = StructType(schema.fields.map(f =>
          if (f.name == colName) f.copy(nullable = nl.nullable()) else f))
      case ac: TableChange.AddConstraint =>
        // CHECK constraints (Delta's ADD CONSTRAINT ... CHECK): the
        // predicate persists in table meta and every subsequent write
        // validates rows in-pass (TableIO.applyChecks). EXISTING rows
        // validate NOW — adding a constraint the current data violates
        // fails here instead of lurking (Delta semantics).
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val cn = c.name()
            require(!checks.contains(cn), s"constraint already exists: $cn")
            val pred = Option(c.predicateSql()).getOrElse(
              throw new IllegalArgumentException(s"CHECK constraint $cn has no SQL predicate"))
            val io = new TableIO(SparkSession.active, catalog)
            val bad =
              if (catalog.currentVersion(name).isEmpty) 0L
              else io.read(name)
                .filter(org.apache.spark.sql.functions.expr(s"($pred) <=> false"))
                .limit(1).count()
            require(bad == 0L,
              s"cannot add CHECK constraint $cn: existing rows violate ($pred)")
            checks += (cn -> pred)
          case other =>
            throw new UnsupportedOperationException(
              s"only CHECK constraints are supported, got: ${other.toDDL}")
        }
      case dc: TableChange.DropConstraint =>
        require(checks.contains(dc.name) || dc.ifExists,
          s"no such constraint: ${dc.name}")
        checks -= dc.name
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog supports ADD/DROP/RENAME COLUMN, lossless " +
            s"ALTER COLUMN TYPE, and ADD/DROP CONSTRAINT (CHECK) only, got: $other")
    }
    // one atomic metadata commit: schema + renames + dropped move
    // together or not at all (no crash window between pieces).
    // partitionSpec and sortOrder CARRY from the prior meta — a fresh
    // TableMeta here would silently strip a hidden layout (or the
    // write order) on any ALTER
    val c1 = catalog
    val meta0 = c1.readMeta(name)
    c1.writeMeta(name, c1.TableMeta(
      schemaJson = Some(schema.json), partitionCols = Some(pcols),
      renames = renames, dropped = dropped.toSeq,
      partitionSpec = meta0.partitionSpec, sortOrder = sortOrder,
      distribution = meta0.distribution, checks = checks))
    loadTable(ident)
  }

  // ---- ViewCatalog: persisted catalog views (Iceberg view-spec /
  // Delta catalog-view parity). Spark 4.1's OSS analyzer does not yet
  // route view SQL to a v2 ViewCatalog (no built-in rule calls
  // loadView — verified against the 4.1.2 jars), so the DDL and
  // read-side resolution ride graft's session extensions
  // (graft.extensions.GraftViewSupport); this interface is the
  // engine-facing contract those rules call through, and the code
  // Spark's native v2-view support will hit when it lands upstream.

  import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}

  private def viewName(ident: Identifier): String = qualified(ident)

  override def viewExists(ident: Identifier): Boolean =
    ViewStore.exists(catalog.warehouse, viewName(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (ns.nonEmpty && !namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    ViewStore.list(catalog.warehouse, ns.toSeq)
      .map(n => Identifier.of(ns, n)).toArray
  }

  override def loadView(ident: Identifier): View = {
    val rec = ViewStore.load(catalog.warehouse, viewName(ident))
      .getOrElse(throw new NoSuchViewException(ident))
    GraftCatalog.materializeView(viewName(ident), rec)
  }

  private def recordOf(info: ViewInfo): ViewStore.ViewRecord =
    ViewStore.ViewRecord(
      sql = info.sql,
      schemaJson = info.schema.json,
      currentCatalog = info.currentCatalog,
      currentNamespace = info.currentNamespace.toSeq,
      queryColumnNames = info.queryColumnNames.toSeq,
      columnAliases = info.columnAliases.toSeq,
      columnComments = info.columnComments.toSeq,
      properties = info.properties.asScala.toMap)

  override def createView(info: ViewInfo): View = {
    val name = viewName(info.ident)
    // a view may not shadow a table (one namespace, Spark semantics)
    if (catalog.tableExists(name))
      throw new TableAlreadyExistsException(info.ident)
    if (!ViewStore.create(catalog.warehouse, name, recordOf(info)))
      throw new ViewAlreadyExistsException(info.ident)
    loadView(info.ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val name = viewName(info.ident)
    if (catalog.tableExists(name))
      throw new TableAlreadyExistsException(info.ident)
    if (!orCreate && !ViewStore.exists(catalog.warehouse, name))
      throw new NoSuchViewException(info.ident)
    ViewStore.replace(catalog.warehouse, name, recordOf(info))
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val name = viewName(ident)
    val rec = ViewStore.load(catalog.warehouse, name)
      .getOrElse(throw new NoSuchViewException(ident))
    val props = changes.foldLeft(rec.properties) {
      case (m, set: ViewChange.SetProperty) => m + (set.property -> set.value)
      case (m, rm: ViewChange.RemoveProperty) => m - rm.property
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported view change: $other")
    }
    ViewStore.replace(catalog.warehouse, name, rec.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    ViewStore.drop(catalog.warehouse, viewName(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent)) throw new ViewAlreadyExistsException(newIdent)
    if (catalog.tableExists(viewName(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    try ViewStore.rename(catalog.warehouse, viewName(oldIdent), viewName(newIdent))
    catch {
      // a racer created the target between the check and the move
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ViewAlreadyExistsException(newIdent)
    }
  }

  // ---- ProcedureCatalog: Iceberg's CALL surface —
  //   CALL <cat>.system.expire_snapshots('<ns.table>', <keep_last>)
  //   CALL <cat>.system.remove_orphan_files('<ns.table>')
  //   CALL <cat>.system.compact('<ns.table>')

  override def loadProcedure(
      ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace().sameElements(Array("system"))
    (if (ok) GraftProcedures.load(catalog, ident.name()) else None)
      .getOrElse(throw new RuntimeException(
        s"procedure not found: ${(ident.namespace() :+ ident.name()).mkString(".")} " +
          s"(available: system.{${GraftProcedures.list().mkString(", ")}})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.list().map(Identifier.of(Array("system"), _))
    else Array.empty

  // ---- SupportsNamespaces: namespaces are directory trees under the
  // warehouse root (multi-level, Iceberg's a.b.c layout); a directory
  // is a TABLE iff it carries _graft_meta, a namespace otherwise.

  private def nsPath(namespace: Array[String]): java.nio.file.Path =
    java.nio.file.Paths.get((catalog.warehouse +: namespace).mkString("/"))

  private def isTableDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p.resolve("_graft_meta"))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    namespace.nonEmpty && java.nio.file.Files.isDirectory(p) && !isTableDir(p)
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val root = nsPath(namespace)
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && !isTableDir(p))
        .map(p => namespace :+ p.getFileName.toString)
        .toArray
      finally s.close()
    }
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.nonEmpty, "namespace must have at least one level")
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no mutable properties")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val tables = listTables(namespace)
    if (tables.nonEmpty && !cascade) throw new NonEmptyNamespaceException(namespace)
    tables.foreach(dropTable)
    val p = nsPath(namespace)
    if (cascade) {
      // cascade also sweeps entries table drops don't cover (stray
      // files, table dirs with no committed snapshot)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toSeq
          .foreach(java.nio.file.Files.delete)
        finally s.close()
      }
    } else {
      try java.nio.file.Files.deleteIfExists(p)
      catch {
        case _: java.nio.file.DirectoryNotEmptyException =>
          // leftovers that aren't tables (tableExists == false): a raw
          // DirectoryNotEmptyException would be meaningless to a SQL user
          throw new NonEmptyNamespaceException(namespace)
      }
    }
    true
  }
}

/** A snapshot table that reads through the parquet v2 delegate and
  * writes through TableIO's snapshot commit (V1Write fallback — the
  * data movement is a distributed parquet write; only the manifest
  * commit is driver-side).
  *
  * When the table has renamed columns, the delegate operates on
  * PHYSICAL (on-disk) names and this wrapper translates at the
  * Table/Scan boundary: `schema()` reports logical names, column
  * pruning maps logical -> physical on the way down, and the built
  * scan's `readSchema` maps physical -> logical on the way up (rows
  * are positional at execution, so only planning needs names).
  * Filter pushdown is deliberately not forwarded for renamed tables —
  * filters still apply post-scan, correct but unpruned; `compact()`
  * rewrites files under current names and restores pushdown.
  *
  * A snapshot with PENDING merge-on-read deletes (`merged`: its version
  * and chain) cannot be served as a raw parquet scan — its reads go
  * through Spark's V1 read bridge instead ([[mergedScanBuilder]]).
  * INSERT INTO carries the pending entries (TableIO.append); INSERT
  * OVERWRITE replaces the file list, clearing them.
  */
private[io] class GraftTable(
    tableName: String,
    cat: TableCatalog,
    delegate: ParquetTable,
    partitionCols: Seq[String],
    declaredSchema: Option[StructType],
    renames: Map[String, String],
    pspec: Seq[PartitionTransform] = Seq.empty,
    // the chain writes commit to: the session WAP branch
    // (`spark.wap.branch`) or main
    writeRef: Ref = Ref.Main,
    merged: Option[(Int, Ref)] = None
) extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  // hidden layout columns (pspec-derived) — stripped from the visible
  // schema; identity transforms keep their source column visible. The
  // `gp_` prefix is reserved for layout columns, so prefix-matching
  // ones are stripped even when minted by a superseded spec (old
  // versions after respecTable carry the previous layout's dirs).
  private val hiddenCols: Set[String] = pspec.collect {
    case t if !t.isInstanceOf[PartitionTransforms.Identity] => t.derivedName
  }.toSet

  private def hide(f: org.apache.spark.sql.types.StructField): Boolean =
    hiddenCols.contains(f.name) || f.name.startsWith(PartitionTransforms.Prefix)

  override def name(): String = delegate.name
  override def schema(): StructType = {
    // Field ORDER comes from the delegate (file tables move partition
    // columns to the end — the established INSERT-by-position
    // contract); NULLABILITY and metadata come from the DECLARED
    // schema when one exists, because the file-table delegate forces
    // every field nullable (file sources can always produce nulls),
    // which would erase declared NOT NULL columns and default
    // metadata. Renamed tables use the declared schema outright (the
    // delegate speaks physical names); undeclared (path-written)
    // tables keep pure schema-on-read.
    val base =
      if (renames.nonEmpty) declaredSchema.getOrElse(delegate.schema) else delegate.schema
    val declaredByName: Map[String, org.apache.spark.sql.types.StructField] =
      declaredSchema.map(_.fields.map(f => f.name -> f).toMap).getOrElse(Map.empty)
    StructType(base.fields.filterNot(hide).map { f =>
      declaredByName.get(f.name)
        .map(d => f.copy(nullable = d.nullable, metadata = d.metadata))
        .getOrElse(f)
    })
  }

  override def partitioning(): Array[Transform] =
    if (pspec.isEmpty) partitionCols.map(Expressions.identity).toArray
    else pspec.map(PartitionTransforms.v2Transform).toArray

  // CHECK constraints, reported enforced+VALID: existing rows were
  // validated when the constraint was added, and every write since
  // validated in-pass (TableIO.applyChecks)
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    cat.readMeta(tableName).checks.toSeq.sortBy(_._1).map { case (n, pred) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(pred)
        .enforced(true)
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION lights up Spark 4.1's native
    // `MERGE WITH SCHEMA EVOLUTION INTO`: the analyzer hands the
    // source's new/widened columns to alterTable IN the same
    // statement, where the existing validation applies — nullable
    // AddColumn (old files serve nulls / existence defaults) and the
    // lossless-only `widens` rule for retypes; anything lossy refuses
    // there with the rule named. Opt-in per statement (the WITH
    // clause), never on a plain MERGE.
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (merged.isDefined) mergedScanBuilder(options)
    else if (renames.isEmpty)
      // Hive-DIR layouts prune and prove like identity hidden specs:
      // the dir value IS the column value, so the file scope drops
      // partition-skipped files from keptFiles (planner statistics
      // then report the SURVIVING rows, not the table's) and backs the
      // exact-prune proof for partition-aligned predicates — the same
      // arithmetic the row-level scoping trusts.
      new StatsPruningScanBuilder(delegate, options,
        if (pspec.nonEmpty) pspec
        else partitionCols.map(PartitionTransforms.Identity),
        // Hive-DIR-partitioned tables (incl. identity hidden layouts)
        // carry column VALUES in directory names whose append position
        // can't match the fixed streaming row shape — they stay
        // batch-only. Unpartitioned tables and non-identity hidden
        // layouts (gp_* dirs DERIVE from source columns the footers
        // already carry) stream.
        if (partitionCols.forall(_.startsWith(PartitionTransforms.Prefix)))
          Some((cat, tableName)) else None)
    else new ScanBuilder with SupportsPushDownRequiredColumns {
      private val db = delegate.newScanBuilder(options)
      private val toLogicalName = renames.map(_.swap)
      private def physical(s: StructType): StructType =
        StructType(s.fields.map(f => renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
      private def logical(s: StructType): StructType =
        StructType(s.fields.map(f => toLogicalName.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
      override def pruneColumns(requiredSchema: StructType): Unit = db match {
        case p: SupportsPushDownRequiredColumns =>
          // physical names + nullable at the reader (missing columns
          // must null/default-fill — see StatsPruningScanBuilder)
          p.pruneColumns(StructType(
            physical(requiredSchema).fields.map(_.copy(nullable = true))))
        case _ => ()
      }
      override def build(): Scan = {
        val ds = db.build()
        // Streaming through RENAME, Iceberg-field-ID style: a column's
        // PHYSICAL name (its name at birth) is its stable ID — every
        // data file before and after any RENAME stores it, so the
        // stream reads files by the delegate's physical read schema
        // and the rows line up positionally under the scan's logical
        // names. RENAME stays metadata-only (zero rewrite) and a
        // checkpointed stream drains straight through an ALTER RENAME;
        // a restart re-resolves the same physical IDs under the new
        // logical names. Hive-DIR-partitioned tables stay batch-only
        // (dir names carry values the streaming row shape can't).
        new Scan with GraftStreamableScan {
          override def streamSource: Option[(TableCatalog, String, StructType, CaseInsensitiveStringMap)] =
            if (partitionCols.forall(_.startsWith(PartitionTransforms.Prefix)))
              Some((cat, tableName, ds.readSchema(), options)) else None
          override def readSchema(): StructType = logical(ds.readSchema())
          override def toBatch: Batch = ds.toBatch
          override def description(): String = ds.description()
        }
      }
    }

  /** The dirty snapshot's read: Spark's V1 read bridge
    * ([[org.apache.spark.sql.connector.read.V1Scan]], the fallback JDBC
    * catalog tables use) materializes `TableIO.readVersion`'s
    * deletes-merged frame — clean files on the codegen parquet path,
    * only dirty files pay the broadcast anti-join — with required-column
    * pruning applied to the frame. The TRANSIENT state between a MOR
    * write and `applyDeletes`, which restores the pure-scan table.
    */
  private def mergedScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private val (version, morRef) = merged.get
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = new org.apache.spark.sql.connector.read.V1Scan
          with MorStreamRefusal {
        override def morTableName: String = tableName
        private val read = required.getOrElse(schema())
        override def morStreamSource: Option[(TableCatalog, StructType, CaseInsensitiveStringMap)] =
          if (renames.isEmpty && morRef == Ref.Main &&
              partitionCols.forall(_.startsWith(PartitionTransforms.Prefix)))
            // the PRUNED read schema, like the clean path: a
            // column-pruned stream must serve rows in its scan's own
            // shape, or ordinals misalign downstream
            Some((cat, read, options))
          else None
        override def readSchema(): StructType = read
        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
            ctx: org.apache.spark.sql.SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = ctx
            override def schema: StructType = read
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val df = new TableIO(ctx.sparkSession, cat).readVersion(tableName, version, morRef)
              // empty required schema = count(*)-style scan: rows, no
              // columns (select() keeps the row count)
              df.select(read.fields.toSeq
                .map(f => org.apache.spark.sql.functions.col(f.name)): _*).rdd
            }
          }.asInstanceOf[T]
      }
    }

  /** Whether a row-level `command` may run over a base with pending
    * merge-on-read deletes — the loadTable gate, overridden by
    * [[GraftRowOpsTable]]. Here: never; such a base refuses, naming the
    * recovery step (GraftTable.requireClean).
    */
  protected def dirtyDmlAllowed(command: String): Boolean = false

  /** Copy-on-write `DELETE FROM`: the WAP fork and the filter → Column
    * translation, then TableIO's one row-level executor
    * (`rewriteWhere`) — files the pushed filters provably cannot touch
    * carry verbatim, files they provably cover drop as metadata only,
    * and only the boundary files are read (deletes-merged), filtered
    * (null-valued predicates keep the row, per SQL) and rewritten.
    * Nothing touched = a no-op, no snapshot. Deleted rows stay readable
    * via `VERSION AS OF`. This is the row-level DML the reference
    * inherits from Iceberg's SQL extensions (reference:
    * FactJob.scala:19); UPDATE/MERGE take the rewrite path in
    * GraftRowOpsTable.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftTable.toCondition(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val dirtyOk = dirtyDmlAllowed("DELETE")
    // the delete's base snapshot is the write ref's head — under a WAP
    // session the BRANCH, forked at main's current snapshot on first
    // write
    val v = cat.locked(tableName) {
      cat.forkLocked(tableName, writeRef)
      cat.head(tableName, writeRef)
    }
    if (!dirtyOk) GraftTable.requireClean(cat, tableName, v, writeRef, "DELETE")
    val cond = filters.flatMap(GraftTable.toCondition).reduceOption(_ && _).getOrElse(lit(true))
    new TableIO(SparkSession.active, cat).rewriteWhere(tableName, cond, writeRef, partitionCols,
      dropCovered = true, filters = Some(filters.toSeq), baseVersion = Some(v))(
      _.filter(not(coalesce(cond, lit(false)))))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val io = new TableIO(data.sparkSession, cat)
              // a WAP session's write lands on the branch, forking it
              // at main's current snapshot when absent
              if (replace || overwrite) io.overwrite(data, tableName, partitionCols, ref = writeRef)
              else {
                cat.locked(tableName)(cat.forkLocked(tableName, writeRef))
                io.append(data, tableName, partitionCols, ref = writeRef)
              }
              ()
            }
          }
      }
    }
}

/** Adds SQL UPDATE / MERGE INTO (and DELETE whose predicate the
  * executor path can't take) via group-based copy-on-write row-level
  * operations, FILE-scoped: the command's pushed predicate goes through
  * the table's [[FileScope]] driver-side, files it provably cannot
  * touch are excluded from the rewrite scan and carried into the new
  * manifest verbatim, and only the remaining files' rows flow through
  * Spark's rewrite plan into the replacement write: a distributed DSv2
  * batch write over the table layer's one staged writer
  * ([[GraftStagedWrite.batch]]) into a private staging dir, whose
  * accepted tasks name the files they wrote in their commit messages.
  * The driver-side commit publishes exactly those files and runs
  * TableIO's replacement commit over carried-over + replacement files.
  * Old files are never touched, so prior versions time-travel like
  * every other commit.
  *
  * PARTITIONED tables (r19): the replacement write takes a LAYOUT
  * HOP — the rewrite plan's batch write lands flat in the private
  * staging (a DSv2 write gets no partitioning from the planner),
  * and the commit re-writes those staged rows through TableIO's
  * partitioned staging (`stageWrite`: same withLayout /
  * distribution / hidden-spec derivation as every append) before the
  * manifest commit. Cost: the REPLACED bytes are written twice —
  * bounded by the file-scoped rewrite, never table-sized — in
  * exchange for UPDATE/MERGE on partitioned tables with rows free to
  * MOVE between partitions. Layout dirs scope too, so a
  * partition-aligned UPDATE rewrites only the matching partition's
  * files.
  *
  * A DIRTY base (pending merge-on-read deletes) is the same operation
  * with non-empty pending entries; loadTable admits one only on the
  * unpartitioned main snapshot it serves merged (`merged`), and never
  * from a WAP session. The rewrite scan cannot hand Spark raw parquet
  * for dirty candidates — their deleted rows would flow into the
  * replacement and resurrect — and the group-based rewrite planner
  * builds its `DataSourceV2ScanRelation` directly (no `V1ScanWrapper`),
  * so the V1 read bridge is unusable here. Instead the dirty
  * candidates' deletes-merged rows STAGE into a private dir (one
  * bounded write, O(dirty candidate bytes)) and scan with the clean
  * candidates on the normal DSv2 path, keeping file-granularity group
  * semantics. The commit consumes the rewritten files' entries and
  * carries the others trimmed ([[TableIO.trimDeletesForRewrite]]).
  */
private[io] class GraftRowOpsTable(
    tableName: String,
    cat: TableCatalog,
    delegate: ParquetTable,
    declaredSchema: Option[StructType],
    renames: Map[String, String],
    writeRef: Ref = Ref.Main,
    partitionCols: Seq[String] = Seq.empty,
    pspec: Seq[PartitionTransform] = Seq.empty,
    merged: Option[(Int, Ref)] = None
) extends GraftTable(tableName, cat, delegate, partitionCols, declaredSchema, renames,
    pspec, writeRef, merged)
  with SupportsRowLevelOperations {

  override protected def dirtyDmlAllowed(command: String): Boolean = merged.isDefined && {
    if (writeRef != Ref.Main)
      throw new UnsupportedOperationException(
        s"$tableName has pending merge-on-read deletes and the session writes to WAP " +
          s"${writeRef.describe(tableName)}: $command over a dirty snapshot " +
          "is not supported — run applyDeletes first, or clear spark.wap.branch")
    true
  }

  /** The table's file scope: hidden specs when declared, else the
    * identity dirs of a Hive layout; stats under logical names.
    */
  private lazy val fileScope = FileScope(
    if (pspec.nonEmpty) pspec else partitionCols.map(PartitionTransforms.Identity),
    schema(), renames)

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    val dirtyOk = dirtyDmlAllowed(info.command().toString)
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        // files proven untouchable by the command's predicate: they are
        // excluded from the rewrite scan AND carried into the new
        // manifest unchanged (file-scoped copy-on-write)
        @volatile private var carriedOver: Seq[String] = Seq.empty
        // the write ref's head the rewrite's file partition was computed
        // against — the commit pins at it, so a commit that landed in
        // between (same-JVM before the lock, or another process any
        // time) surfaces as a conflict (or, on main, a validated
        // rebase) instead of the rewrite silently dropping that
        // commit's files (lost update). None = no head yet: an empty
        // table, or a WAP branch that forks at commit
        @volatile private var baseVersion: Option[Int] = None
        // the planned file set: the conflict check for the
        // fork-at-commit case, where no branch version existed to pin
        @volatile private var plannedFiles: Seq[String] = Seq.empty
        // the base's pending merge-on-read entries (empty when clean):
        // consumed for rewritten files, trimmed for carried ones
        @volatile private var pending: Seq[TableCatalog.DeleteEntry] = Seq.empty
        // staging dir holding the dirty candidates' merged rows for the
        // rewrite scan — swept with the write staging on commit/abort
        @volatile private var scanStaging: Option[java.nio.file.Path] = None
        // the command's pushed (translatable) condition — the rebase's
        // conflict-detection filter (Iceberg's serializable check): a
        // racer's NEW file that MIGHT hold matching rows kills the
        // rebase. Empty when the predicate is untranslatable —
        // conservative, every new file then conflicts.
        @volatile private var commandFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty

        override def command(): RowLevelOperation.Command = info.command()
        override def description(): String = s"graft copy-on-write ${info.command()}"
        // Group granularity here is the FILE. Spark's group-based
        // rewrite pushes the command's condition into this scan and
        // replaces exactly the groups the source returns, so the scan
        // must never return PARTIAL files — a raw parquet scan would
        // (row-group pruning on footer stats could silently drop a
        // matched file's other row groups from the replacement: data
        // loss). Instead the condition is consumed HERE, driver-side:
        // the file scope conservatively partitions the snapshot's
        // files into can't-match (carried over verbatim) and
        // might-match (scanned WHOLLY — the delegate gets no filters,
        // so files are all-or-nothing). An UPDATE of one key rewrites
        // the files that key can live in, not the table.
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
            // one read: files + version from the same snapshot. Under a
            // WAP session the base is the BRANCH head when it exists;
            // otherwise main's current manifest (the branch forks from
            // it at commit time)
            private val baseV = cat.currentVersion(tableName, writeRef)
            locally { baseVersion = baseV }
            private val allFiles = baseV match {
              case Some(v) =>
                if (!dirtyOk)
                  GraftTable.requireClean(cat, tableName, v, writeRef, info.command().toString)
                pending = cat.pendingDeletes(tableName, v, writeRef)
                cat.manifest(tableName, v, writeRef)
              case None => cat.currentVersion(tableName).map(cat.manifest(tableName, _))
                .getOrElse(Seq.empty)
            }
            locally { plannedFiles = allFiles }
            private var chosen: Seq[String] = allFiles
            private val toLogicalName = renames.map(_.swap)

            override def pushFilters(
                filters: Array[org.apache.spark.sql.sources.Filter]
            ): Array[org.apache.spark.sql.sources.Filter] = {
              // for dirty files the stats describe RAW rows (deleted
              // included) — a superset, so can't-match stays safe
              val (scanned, pruned) = Timers.time("dml.pruneProbe")(
                allFiles.partition(fileScope.mightMatch(_, filters.toSeq)))
              chosen = scanned
              carriedOver = pruned
              commandFilters = filters.toSeq
              filters // rows are filtered by the rewrite's projection, not the scan
            }
            override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
              Array.empty

            override def build(): Scan = {
              val spark = SparkSession.active
              val dirtySet = pending.flatMap(_.dirtyFiles).map(norm).toSet
              val (dirtyChosen, cleanChosen) = chosen.partition(f => dirtySet(norm(f)))
              val scanFiles =
                if (dirtyChosen.isEmpty) chosen
                else cleanChosen ++ stageMerged(spark, dirtyChosen)
              // staged files live OUTSIDE the data dir: the delegate's
              // basePath option would reject them (the table is
              // unpartitioned — no partition discovery to lose)
              val delegateOptions = delegate.options.asCaseSensitiveMap.asScala.toMap
              val scanOptions =
                if (dirtyChosen.isEmpty) delegateOptions
                else delegateOptions.filter(_._1.toLowerCase(java.util.Locale.ROOT) != "basepath")
              // a fully-pruned rewrite (predicate provably matches no
              // file) has no paths to discover partitions from: carry
              // the delegate's full schema, partition columns included,
              // so the command no-ops over the table's own columns
              val schemaForScoped =
                if (scanFiles.isEmpty) Some(delegate.schema) else delegate.userSpecifiedSchema
              val scanTable =
                if (scanFiles == allFiles) delegate
                else GraftManifestScan.table(s"${delegate.name}#scoped", spark,
                  scanOptions, scanFiles, schemaForScoped)
              val builder = scanTable.newScanBuilder(options)
              // hidden LAYOUT columns (gp_* dirs a hidden spec derives)
              // must not surface in the rewrite scan: the relation's
              // output is the VISIBLE schema, and Spark's row-level
              // scan planning maps readSchema attributes to it by
              // name. The layout hop re-derives them on write.
              builder match {
                case p: SupportsPushDownRequiredColumns =>
                  val visible = StructType(scanTable.schema.fields.filterNot(f =>
                    f.name.startsWith(PartitionTransforms.Prefix)))
                  if (visible.length != scanTable.schema.length) p.pruneColumns(visible)
                case _ => ()
              }
              val ds = builder.build()
              new Scan {
                override def readSchema(): StructType = {
                  val s = ds.readSchema()
                  StructType(s.fields.map(f =>
                    toLogicalName.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
                }
                override def toBatch: Batch = ds.toBatch
                override def description(): String = ds.description()
              }
            }
          }

        private def norm(p: String): String =
          java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

        /** One distributed write of the dirty candidates' merged rows
          * (PHYSICAL column names, like every data file) into a private
          * staging dir; returns the staged parquet files.
          */
        private def stageMerged(spark: SparkSession, dirty: Seq[String]): Seq[String] = {
          val rows = new TableIO(spark, cat).mergeDeletes(tableName, dirty, pending)
          val physical = renames.foldLeft(rows) { case (df, (l, p)) => df.withColumnRenamed(l, p) }
          // a REPLAN re-stages: reclaim the superseded dir now instead
          // of waiting out the age-guarded orphan GC
          scanStaging.foreach(TableIO.sweepDir)
          val stage = TableIO.newStagingDir(cat.pathOf(tableName))
          scanStaging = Some(stage)
          // a failed materialization must not leak its dir — the write
          // side's sweep can never reach this planning-side window (the
          // write is only constructed after planning succeeds). A plan
          // abandoned between here and write construction is the one
          // remaining leak shape; the age-guarded orphan GC reclaims it.
          try GraftStagedWrite.write(physical, stage.toString, Seq.empty)
            .map(stage.resolve(_).toString)
          catch {
            case e: Throwable =>
              TableIO.sweepDir(stage)
              scanStaging = None
              throw e
          }
        }

        override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
          override def build(): Write = new Write {
            override def toBatch: BatchWrite = {
              // files carry PHYSICAL names under renames (rows are
              // positional — only the writer's schema needs mapping)
              val physInfo: LogicalWriteInfo = new LogicalWriteInfo {
                override def options(): CaseInsensitiveStringMap = winfo.options()
                override def queryId(): String = winfo.queryId()
                override def schema(): StructType = StructType(winfo.schema().fields.map(f =>
                  renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
                // no delta (merge-on-read) support: no row-id or
                // metadata columns ride along the replacement rows
                override def rowIdSchema(): java.util.Optional[StructType] =
                  java.util.Optional.empty()
                override def metadataSchema(): java.util.Optional[StructType] =
                  java.util.Optional.empty()
              }
              // The rewrite writes into a PRIVATE per-write staging dir
              // through the table layer's one writer (GraftStagedWrite,
              // as TableIO.stageWrite) and claims exactly the files its
              // accepted tasks report — never a directory-listing diff,
              // which would claim a concurrent cross-process append's
              // moved-but-uncommitted files.
              val staging = TableIO.newStagingDir(cat.pathOf(tableName))
              def sweepAll(): Unit = { TableIO.sweepDir(staging); scanStaging.foreach(TableIO.sweepDir) }
              // The per-table mutex serializes same-JVM writers over the
              // write->commit span (held from here through commit/abort;
              // Semaphore: the callbacks need not share a thread).
              // Everything between acquire and handing the lock to the
              // BatchWrite's commit/abort callbacks must release on
              // throw — a leaked Semaphore permit (non-reentrant, no
              // owner) would block every later write to this table for
              // the life of the JVM.
              val releaseOnce = TableIO.acquireForCallbacks(cat.pathOf(tableName))
              val (dBatch, protocol) =
                try GraftStagedWrite.batch(physInfo.schema(), staging.toString)
                catch { case e: Throwable => releaseOnce(); sweepAll(); throw e }
              new BatchWrite {
                override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
                  // the rewrite plan prepends bookkeeping columns
                  // (__row_operation) the parquet writer must not see
                  new ProjectToDataColsFactory(
                    dBatch.createBatchWriterFactory(p), physInfo.schema())
                override def useCommitCoordinator(): Boolean = dBatch.useCommitCoordinator()
                override def onDataWriterCommit(m: WriterCommitMessage): Unit =
                  dBatch.onDataWriterCommit(m)
                override def commit(messages: Array[WriterCommitMessage]): Unit =
                  try {
                    // the per-table lock is HELD here (acquired at
                    // toBatch) and is non-reentrant — fork via the
                    // lock-assumed helper. A branch forked at THIS commit
                    // planned against main's manifest: no branch version
                    // existed to pin, so its fork must be of that same
                    // file set
                    cat.forkLocked(tableName, writeRef)
                    val base = baseVersion.getOrElse {
                      val h = cat.currentVersion(tableName, writeRef).getOrElse(0)
                      if (h > 0 && cat.manifest(tableName, h, writeRef).toSet != plannedFiles.toSet)
                        throw new ConcurrentCommitException(
                          s"concurrent commit to ${writeRef.describe(tableName)} during " +
                            s"row-level ${info.command()}: planned against the fork snapshot " +
                            "but it moved; re-run the command")
                      h
                    }
                    dBatch.commit(messages)
                    // new table = files the scan proved untouchable
                    // (carried over verbatim) + this write's replacement
                    // files, moved in from the private staging (cheap
                    // same-filesystem atomic renames); logical
                    // overwrite, prior versions untouched. PARTITIONED
                    // tables take the layout hop (class doc): re-write
                    // the flat staged rows through TableIO's
                    // partitioned staging so every replacement row
                    // lands under its Hive/hidden-layout directory —
                    // incl. rows an UPDATE moved between partitions.
                    val io = new TableIO(SparkSession.active, cat)
                    val staged = protocol.committed
                    val newFiles =
                      if (partitionCols.isEmpty)
                        TableIO.publish(staging, java.nio.file.Paths.get(cat.dataPath(tableName)), staged)
                      else if (staged.isEmpty) Seq.empty
                      else
                        // explicit schema: an all-deleted rewrite has
                        // nothing to infer from, and physical names
                        // are already what stageWrite expects
                        io.stageWrite(SparkSession.active.read.schema(physInfo.schema())
                          .parquet(staged.map(staging.resolve(_).toString): _*),
                          tableName, partitionCols)
                    // Pinned commit at the planned base through TableIO's
                    // replacement loop (Iceberg's retry for row-level
                    // commits, serializable flavor): a rebase is sound iff
                    // every file this rewrite REPLACED still exists on the
                    // fresh head, no pending MOR entry scopes one (our
                    // replacement rows came from the pre-delete scan),
                    // and no NEW file might hold rows matching the
                    // command's pushed filters. The rewritten files' MOR
                    // entries are consumed HERE, in the same commit as
                    // their replacement; carried dirty files keep theirs,
                    // trimmed.
                    val props =
                      if (pending.isEmpty) Map.empty[String, String]
                      else io.trimDeletesForRewrite(tableName, pending, carriedOver)
                    io.commitReplacementFiles(tableName, carriedOver, newFiles, base, props,
                      Some(fileScope.mightMatch(_, commandFilters)), writeRef)
                    ()
                  } finally { releaseOnce(); sweepAll() }
                override def abort(messages: Array[WriterCommitMessage]): Unit =
                  try dBatch.abort(messages)
                  finally { releaseOnce(); sweepAll() }
              }
            }
          }
        }
      }
    }
  }
}

/** Streaming refusal for a dirty snapshot's V1-bridge scan: the
  * micro-batch source diffs FILES, and a MOR commit changes none —
  * name the recovery instead of Spark's generic unsupported error.
  * One escape hatch: `skipChangeCommits` (Delta's append-as-of
  * contract) makes pending deletes invisible BY CONTRACT — rows
  * stream as of their append — so the file-diff source is sound over
  * the dirty chain and [[morStreamSource]] supplies its wiring.
  */
private[io] trait MorStreamRefusal extends Scan {
  def morTableName: String
  /** `Some(catalog, physSchema, options)` when this dirty table is
    * shape-eligible to stream (no renames, no Hive dirs, main chain) —
    * the option gate itself is checked here.
    */
  def morStreamSource: Option[(TableCatalog, StructType, CaseInsensitiveStringMap)] = None
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    morStreamSource match {
      case Some((cat, sch, opts)) if opts.getBoolean("skipChangeCommits", false) =>
        new GraftMicroBatchStream(morTableName, cat, sch, opts)
      case _ => throw new IllegalStateException(
        s"$morTableName has pending merge-on-read deletes: the table stream diffs " +
          "files and a MOR commit changes none, so deleted rows would stream as live. " +
          "Run applyDeletes and start the stream from the applied snapshot " +
          "(startingVersion), or opt into append-as-of semantics with skipChangeCommits")
    }
}

/** Read-path metadata file skipping (the SELECT-side use of
  * graft.io.FileStats): query filters are checked against each data
  * file's footer statistics at plan time and files that provably
  * cannot match are dropped from the scan's file list BEFORE any task
  * is scheduled — the manifest-stats skip Iceberg does, with memoized
  * footers standing in for stats persisted at commit. Everything else
  * (column pruning, parquet row-group pruning, residual filters)
  * forwards to the real `FileScanBuilder`, so plans keep their
  * `PushedFilters`/`ReadSchema` shape; stats pruning only shrinks the
  * file index. Conservative by construction: only the filters
  * `DataSourceStrategy.translateFilter` can express participate, and
  * any file with unknown stats stays in.
  */
private[io] class StatsPruningScanBuilder(
    delegate: ParquetTable,
    options: CaseInsensitiveStringMap,
    pspec: Seq[PartitionTransform] = Seq.empty,
    // (catalog, table) when this scan may also serve as a STREAMING
    // source (readStream.table) — None for path-API scans
    streamSource0: Option[(TableCatalog, String)] = None
) extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val scope = FileScope(pspec, delegate.schema)
  private var current: ScanBuilder = delegate.newScanBuilder(options)
  private var prunedColumns: Option[StructType] = None
  // the post-pruning file list — what a bucket-keyed scan keys over
  private var keptFiles: Seq[String] = delegate.paths
  // a WHERE clause disables metadata aggregates (stats describe whole
  // files) UNLESS the exact-prune proof below holds for every pushed
  // filter — then the filter IS the file pruning and the aggregate
  // stays answerable from the surviving files' stats
  private var anyFilter = false
  // true while every filter pushed so far is EXACTLY implemented by
  // file-level pruning: each translated to V1, excluded files provably
  // match no row (mightMatch false), and every kept non-empty file
  // provably matches ALL rows (mustMatchAll). Under this proof the
  // Filter node is dropped from the plan ("how many rows did
  // yesterday ingest?" stays a catalog lookup at 100 TB).
  private var exactPrune = true
  private var pushedAgg: Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = None

  // Conservative catalyst -> v1 translation for stats evaluation only:
  // shapes we don't recognize contribute NO constraint (the delegate
  // still receives the full expressions for its own pushdown).
  // Shared with TableIO.readWhere via FilterTranslation.
  private def toV1(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): Option[org.apache.spark.sql.sources.Filter] = FilterTranslation.toV1(e)

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
  ): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    anyFilter = anyFilter || filters.nonEmpty
    val v1 = filters.flatMap(toV1)
    val keep = delegate.paths.filter(scope.mightMatch(_, v1))
    keptFiles = keep
    if (keep.size < delegate.paths.size) {
      // a fully-pruned scan has no paths left to discover partitions
      // from — carry the delegate's full schema, partition columns
      // included, so it returns zero rows over the table's columns
      val schemaForSkipped =
        if (keep.isEmpty) Some(delegate.schema) else delegate.userSpecifiedSchema
      current = GraftManifestScan.table(s"${delegate.name}#skipped", SparkSession.active,
        delegate.options.asCaseSensitiveMap.asScala.toMap, keep, schemaForSkipped)
        .newScanBuilder(options)
      prunedColumns.foreach(s => current match {
        case p: SupportsPushDownRequiredColumns => p.pruneColumns(s)
        case _ => ()
      })
    }
    // Exact-prune proof for THIS call's filters: every filter STRICTLY
    // translated (a weakened And-translation must not back a claim),
    // excluded files provably empty of matches (that is what `keep`
    // established), and every kept non-empty file provably matches ALL
    // its rows — per filter, by footer stats OR by layout path
    // arithmetic (the day-aligned predicate over a days() layout).
    // Zero-row part files carry no column stats and no rows: exempt,
    // not refusals.
    val v1Strict = filters.map(e => FilterTranslation.toV1(e, strict = true))
    val provenExact = filters.isEmpty || (v1Strict.forall(_.isDefined) && {
      val strict = v1Strict.flatten
      lazy val conf = SparkSession.active.sessionState.newHadoopConf()
      try keep.forall(f => scope.mustMatchAll(f, strict) || FileStats.rowCount(f, conf) == 0L)
      catch { case scala.util.control.NonFatal(_) => false }
    })
    exactPrune = exactPrune && provenExact
    // Under the proof, pruning IS the filter: drop it from the plan
    // so Aggregate sits directly on the scan and the metadata-
    // aggregate path stays reachable. The filters must then NOT reach
    // the inner parquet builder either — with the Filter node gone,
    // Spark prunes the filter columns out of the read schema, and a
    // parquet-pushed predicate over a column absent from the read
    // schema evaluates against nothing and drops every row.
    if (provenExact) Seq.empty
    else current match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    current match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushedFilters
      case _ => Array.empty
    }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    prunedColumns = Some(requiredSchema)
    current match {
      case p: SupportsPushDownRequiredColumns =>
        // nullable at the READER: a declared NOT NULL column keeps its
        // required-ness in the relation, but a parquet file missing
        // the column (written before a defaulted ADD COLUMN) must
        // null/default-fill, not refuse ("Required column is missing")
        p.pruneColumns(StructType(requiredSchema.fields.map(_.copy(nullable = true))))
      case _ => ()
    }
  }

  // ---- METADATA-ONLY aggregates (Iceberg/Delta's "count(*) from the
  // manifest"): an unfiltered global COUNT / COUNT(col) / MIN / MAX
  // answers from the per-file stats persisted into the manifest at
  // commit time — O(manifest), zero data tasks, planned as a
  // driver-side LocalScan (LocalTableScanExec in the physical plan).
  // At 100 TB this is the difference between a catalog lookup and a
  // full-table scan. EXACTNESS RULES (refuse -> normal scan, never
  // approximate): no WHERE clause unless the exact-prune proof holds
  // (every pushed filter implemented exactly by file pruning — the
  // partition-aligned "how many rows did yesterday ingest?" case);
  // no GROUP BY, no DISTINCT; every
  // file must carry stats for the referenced column (a file predating
  // ADD COLUMN has none — refused, so schema evolution can't fake
  // nulls away); MIN/MAX only over types whose parquet footer stats
  // are exact and unit-unambiguous (int/long/float/double/date/
  // decimal — strings can be writer-truncated and timestamps carry a
  // unit this layer doesn't verify, so both refuse); float/double
  // columns containing NaN get NO footer stats from parquet-mr and
  // thus refuse. Dirty MOR snapshots never reach this builder
  // (GraftTable serves them through its merged scan), so pending
  // deletes cannot skew a count.
  private def aggFromStats(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    // filters allowed only under the exact-prune proof: the surviving
    // files' rows ARE the filtered rows, so their stats still answer
    if ((anyFilter && !exactPrune) || agg.groupByExpressions.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if f.fieldNames.length == 1 =>
          Some(f.fieldNames.head)
        case _ => None
      }
    val fields = delegate.schema.fields.map(f => f.name -> f.dataType).toMap
    def minMaxable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | FloatType | DoubleType | DateType => true
      case _: DecimalType => true
      case _ => false
    }
    // resolve every requested aggregate to a (schema field, per-stats computer)
    type Stats = Seq[Map[String, FileStats.ColStats]]
    val resolved: Seq[Option[(StructField, (Stats, Seq[Long]) => Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((
          StructField("count(*)", LongType, nullable = false),
          (_: Stats, rows: Seq[Long]) => rows.sum))
        case c: Count if !c.isDistinct =>
          colOf(c.column).filter(fields.contains).map { name =>
            (StructField(s"count($name)", LongType, nullable = false),
              (st: Stats, _: Seq[Long]) =>
                st.map(m => m(name).rowCount - m(name).nullCount).sum)
          }
        case m: Min =>
          colOf(m.column).filter(n => fields.get(n).exists(minMaxable)).map { name =>
            (StructField(s"min($name)", fields(name), nullable = true),
              (st: Stats, _: Seq[Long]) => foldMinMax(st, name, fields(name), isMin = true))
          }
        case m: Max =>
          colOf(m.column).filter(n => fields.get(n).exists(minMaxable)).map { name =>
            (StructField(s"max($name)", fields(name), nullable = true),
              (st: Stats, _: Seq[Long]) => foldMinMax(st, name, fields(name), isMin = false))
          }
        case _ => None
      }
    if (resolved.exists(_.isEmpty)) return None
    val need = resolved.flatten
    val neededCols: Set[String] = need.map(_._1.name)
      .collect { case n if n.startsWith("count(") && n != "count(*)" =>
        n.stripPrefix("count(").stripSuffix(")")
      }.toSet ++ need.map(_._1.name).collect {
        case n if n.startsWith("min(") => n.stripPrefix("min(").stripSuffix(")")
        case n if n.startsWith("max(") => n.stripPrefix("max(").stripSuffix(")")
      }
    val dbg = sys.env.contains("GRAFT_AGG_DEBUG")
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      // ZERO-ROW part files (a write's empty partitions) carry no
      // column stats at all — they contribute nothing to any
      // aggregate, so they are excluded rather than counted as
      // "stats missing"
      // keptFiles, not delegate.paths: under exact-prune the filtered
      // aggregate answers from the SURVIVING files only (identical to
      // delegate.paths when no filter was pushed)
      val all = keptFiles.map { f =>
        val m = FileStats.cached(f, conf)
        val rc = m.values.headOption.map(_.rowCount).getOrElse(FileStats.rowCount(f, conf))
        (m, rc)
      }
      val nonEmpty = all.filter(_._2 > 0)
      // every referenced column must have stats in EVERY non-empty file
      if (neededCols.exists(c => nonEmpty.exists(!_._1.contains(c)))) {
        if (dbg) println(s"[aggdbg] missing stats: " + neededCols.map(c =>
          c -> nonEmpty.count(!_._1.contains(c))).toMap + s" of ${nonEmpty.size} files")
        return None
      }
      val stats: Stats = nonEmpty.map(_._1)
      val rowCounts: Seq[Long] = nonEmpty.map(_._2)
      val values = need.map { case (_, compute) => compute(stats, rowCounts) }
      val schema = StructType(need.map(_._1))
      Some((schema,
        Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(values))))
    } catch { case scala.util.control.NonFatal(e) =>
      if (dbg) println(s"[aggdbg] refused: $e")
      None
    }
  }

  /** Fold a column's per-file min/max stats to one CATALYST-internal
    * value; all-null files contribute nothing, an all-null column
    * yields null (SQL MIN/MAX semantics). Throws (-> refusal) on a
    * stats value whose runtime type doesn't match the declared one.
    */
  private def foldMinMax(stats: Seq[Map[String, FileStats.ColStats]],
                         name: String, dt: org.apache.spark.sql.types.DataType,
                         isMin: Boolean): Any = {
    import org.apache.spark.sql.types._
    // footer-sourced stats carry the parquet physical boxes (Integer,
    // Float); MANIFEST-decoded stats widen integrals to Long and
    // floats to Double (Codec.StatRecord's "i"/"f" kinds) —
    // accept both and narrow by the declared type. The narrowing is
    // exact: the value originated in a column of that type.
    def internal(v: Any): Any = (v, dt) match {
      case (n: java.lang.Number, IntegerType | DateType) => n.intValue()
      case (n: java.lang.Number, LongType) => n.longValue()
      case (n: java.lang.Number, FloatType) => n.floatValue()
      case (n: java.lang.Number, DoubleType) => n.doubleValue()
      case (bd: java.math.BigDecimal, t: DecimalType) =>
        org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(bd), t.precision, t.scale)
      case _ => throw new IllegalStateException(
        s"stats value type ${v.getClass} does not match declared $dt for $name")
    }
    val vals = stats.flatMap { m =>
      val cs = m(name)
      // min==null is only "contributes nothing" when the file is ALL
      // nulls. A float/double column holding NaN plus at least one
      // null also reads (min=null, max=null) — parquet-mr clears
      // min/max on NaN while numNulls stays set — but its real values
      // must not be skipped: refuse, so the aggregate falls back to a
      // scan instead of returning a wrong extremum.
      if (cs.min == null && cs.max == null && cs.nullCount != cs.rowCount)
        throw new IllegalStateException(
          s"column $name: a file has values but no min/max stats (NaN shape) — " +
            "metadata-only MIN/MAX would be wrong")
      Option(if (isMin) cs.min else cs.max)
    }.map(internal)
    if (vals.isEmpty) null
    else {
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Int, y: Int) => x < y
        case (x: Long, y: Long) => x < y
        case (x: Float, y: Float) => x < y
        case (x: Double, y: Double) => x < y
        case (x: Decimal, y: Decimal) => x.compare(y) < 0
        case _ => throw new IllegalStateException(s"uncomparable stats for $name")
      }
      vals.reduce((a, b) => if (lt(a, b) == isMin) a else b)
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggFromStats(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val r = aggFromStats(agg)
    pushedAgg = r
    r.isDefined
  }

  /** The built scan — wrapped with storage-partitioned-join key
    * reporting when the layout contains a `bucket` transform and EVERY
    * kept file yields a key value for EVERY transform (pre-spec files
    * or unparseable dirs make the layout unprovable: fall back to the
    * plain scan, never guess). Bucket-less (pure time) layouts stay on
    * the delegate's size-packed partitions: key-pure splitting would
    * turn a 365-day scan into 365 tasks for a partitioning no join
    * exploits, while a bucket spec bounds the key fan-out by design.
    * Keys are normalized absolute paths so the plan-time lookup
    * matches `PartitionedFile.filePath.toUri.getPath`.
    */
  override def build(): Scan = {
    pushedAgg.foreach { case (aggSchema, aggRows) =>
      // metadata-only aggregate: a driver-side LocalScan — the
      // physical plan is LocalTableScanExec, zero data tasks
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = aggRows
        override def readSchema(): StructType = aggSchema
        override def description(): String =
          s"GraftMetadataAggScan ${delegate.name} [${aggSchema.fieldNames.mkString(", ")}]"
      }
    }
    val inner = current.build()
    // the stream reads per-batch files under THIS scan's (possibly
    // column-pruned) schema — renames are empty on this path, so the
    // read schema IS the physical one
    val stream = streamSource0.map { case (c, t) =>
      (c, t, inner.readSchema(), options)
    }
    val bucketed = pspec.exists(_.isInstanceOf[PartitionTransforms.Bucket])
    val keyed =
      if (!bucketed) None
      else KeyedLayoutScan.fileKeys(keptFiles, pspec, delegate.schema).map(keys =>
        new KeyedLayoutScan(inner, pspec,
          pspec.map(PartitionTransforms.v2Transform).toArray, keys, stream))
    keyed.getOrElse(new StreamableParquetScan(inner, stream, runtimeSkipInfo))
  }

  /** Runtime-filter (DPP) advertisement for the built scan: hidden
    * partition transforms' SOURCE columns (path-arithmetic skips) and
    * bloom-indexed columns (point-lookup skips) — the columns whose
    * metadata actually drops files. None when the table offers
    * neither; the bloom probe is O(primed stats cache), no I/O.
    */
  private def runtimeSkipInfo: Option[RuntimeFileSkip] = {
    val bloomCols: Seq[String] =
      try {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        keptFiles.flatMap(f => FileStats.cached(f, conf).collect {
          case (col, cs) if cs.bloom.isDefined => col
        }).distinct
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    // attrs may be empty — the scan still carries the file list for
    // exact manifest-rowCount statistics reporting; an empty attrs
    // list advertises nothing, so no runtime filter ever arrives
    val attrs = (pspec.map(_.src) ++ bloomCols).distinct
    Some(RuntimeFileSkip(keptFiles, scope, attrs))
  }
}

/** Projects each incoming row onto its TRAILING `schema.length` fields
  * before handing it to the delegate writer: Spark's row-level rewrite
  * plans prepend bookkeeping columns (`__row_operation`) to the
  * replacement rows while the file writer's schema carries only the
  * data columns. Rows already at the data width pass through untouched.
  */
private[io] class ProjectToDataColsFactory(
    delegate: DataWriterFactory,
    schema: StructType
) extends DataWriterFactory {
  override def createWriter(
      partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val dw = delegate.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.length) dw.write(row)
        else {
          if (proj == null) {
            val offset = row.numFields - schema.length
            proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
              schema, (offset until row.numFields).toIndexedSeq)
          }
          proj.project(row)
          dw.write(proj)
        }
      override def commit(): WriterCommitMessage = dw.commit()
      override def abort(): Unit = dw.abort()
      override def close(): Unit = dw.close()
    }
  }
}

private[io] object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** A SQL row-level command over a base with pending merge-on-read
    * deletes that loadTable did not admit (a partitioned or branch
    * snapshot, or one served as clean): refuse, naming the recovery
    * step.
    */
  def requireClean(cat: TableCatalog, table: String, v: Int, ref: Ref, command: String): Unit =
    require(cat.pendingDeletes(table, v, ref).isEmpty,
      s"${ref.describe(table)} has pending merge-on-read deletes at v$v — run compact " +
        s"or applyDeletes on it before row-level $command")

  /** v1 `Filter` -> `Column` for copy-on-write DELETE. Conjunctions of
    * comparisons/IN/null-tests/string-matches cover the DELETE
    * predicates SQL can push through the v2 -> v1 bridge; anything
    * untranslatable makes `canDeleteWhere` return false so Spark
    * errors up front instead of deleting the wrong rows.
    */
  def toCondition(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(attr(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(attr(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(attr(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
    case LessThan(a, v)           => Some(attr(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(attr(a) <= lit(v))
    case In(a, vs)                => Some(attr(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(attr(a).isNull)
    case IsNotNull(a)             => Some(attr(a).isNotNull)
    case And(l, r)                => for { lc <- toCondition(l); rc <- toCondition(r) } yield lc && rc
    case Or(l, r)                 => for { lc <- toCondition(l); rc <- toCondition(r) } yield lc || rc
    case Not(c)                   => toCondition(c).map(!_)
    case StringStartsWith(a, v)   => Some(attr(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(attr(a).endsWith(v))
    case StringContains(a, v)     => Some(attr(a).contains(v))
    case _: AlwaysTrue            => Some(lit(true))
    case _: AlwaysFalse           => Some(lit(false))
    case _                        => None
  }

  private def attr(a: String): Column = col("`" + a.replace("`", "``") + "`")
}

private[io] object GraftCatalog {
  /** A stored view record as the DSv2 `View` interface. */
  private[io] def materializeView(name0: String, rec: ViewStore.ViewRecord)
      : org.apache.spark.sql.connector.catalog.View =
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = name0
      override def query(): String = rec.sql
      override def currentCatalog(): String = rec.currentCatalog
      override def currentNamespace(): Array[String] = rec.currentNamespace.toArray
      override def schema(): StructType =
        if (rec.schemaJson.isEmpty) new StructType()
        else DataType.fromJson(rec.schemaJson).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = rec.queryColumnNames.toArray
      override def columnAliases(): Array[String] = rec.columnAliases.toArray
      override def columnComments(): Array[String] = rec.columnComments.toArray
      override def properties(): java.util.Map[String, String] =
        rec.properties.asJava
    }

  /** Is `from -> to` a LOSSLESS type widening? Every value of `from`
    * converts exactly: integral chains, float->double (every float is
    * a double), small-integral->double (ints are exact below 2^53),
    * decimal precision growth at a FIXED scale. long->double is
    * deliberately absent (lossy above 2^53), as is any scale change.
    */
  def widens(from: org.apache.spark.sql.types.DataType,
             to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }
  }
}
