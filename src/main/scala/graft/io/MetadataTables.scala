package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Iceberg-style metadata tables over the manifest layer:
  *
  *   SELECT * FROM <cat>.<ns>.<table>.snapshots   -- one row per version
  *   SELECT * FROM <cat>.<ns>.<table>.files       -- current snapshot's data files
  *   SELECT * FROM <cat>.<ns>.<table>.history     -- alias of snapshots (commit order)
  *   SELECT * FROM <cat>.<ns>.<table>.partitions  -- per-partition files/bytes/rows profile
  *   SELECT * FROM <cat>.<ns>.<table>.column_stats -- per-column min/max/nulls profile
  *
  * All state lives in the manifests + filesystem, so the rows are
  * assembled driver-side and served through a LocalScan — metadata
  * volume is O(versions + files), not data-sized. Timestamps are the
  * manifest files' modification times (the commit instant).
  */
private[io] object MetadataTables {

  val Names: Set[String] =
    Set("snapshots", "files", "history", "tags", "staged", "partitions", "column_stats",
      "branches", "refs", "deletes", "changelog")

  def load(cat: TableCatalog, table: String, meta: String): Table = meta match {
    case "snapshots" | "history" =>
      val schema = new StructType()
        .add("version", IntegerType, nullable = false)
        .add("committed_at", TimestampType, nullable = false)
        .add("n_files", IntegerType, nullable = false)
        .add("total_bytes", LongType, nullable = false)
      // data files are immutable once committed and versions mostly
      // share them — stat each distinct path once, not once per
      // version that references it (O(versions x files) otherwise)
      val sizeCache = scala.collection.mutable.HashMap.empty[String, Long]
      // a version expired (CALL expire_snapshots in another process)
      // between the listing and its read is normal lifecycle, like the
      // `staged` branch below: skip the vanished row, don't fail the query
      val rows = cat.versions(table).flatMap { v =>
        try {
          val files = cat.manifest(table, v)
          val bytes = files.map(f => sizeCache.getOrElseUpdate(f, sizeOf(f))).sum
          val mtimeMicros = Files.getLastModifiedTime(
            cat.manifestFile(table, v)).toMillis * 1000L
          Some(new GenericInternalRow(Array[Any](v, mtimeMicros, files.size, bytes)): InternalRow)
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }
      local(s"$table.$meta", schema, rows)
    case "files" =>
      val schema = new StructType()
        .add("file_path", org.apache.spark.sql.types.StringType, nullable = false)
        .add("size_bytes", LongType, nullable = false)
      val rows = cat.currentVersion(table).toSeq
        .flatMap(v => cat.manifest(table, v))
        .map(f => new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(f), sizeOf(f))): InternalRow)
      local(s"$table.files", schema, rows)
    case "partitions" =>
      // per-partition profile of the CURRENT snapshot, assembled from
      // the manifest + persisted stats: the "is my partitioning
      // healthy" query (skewed partitions, small-file buildup) as an
      // O(manifest) metadata read, never a data scan. Partition values
      // are inferred from the files' Hive-style path segments
      // (`k=v/...`); unpartitioned files group under ''. Row counts
      // come from manifest stats when present, else one footer read
      // per stats-less file (legacy manifests only).
      val schema = new StructType()
        .add("partition", org.apache.spark.sql.types.StringType, nullable = false)
        .add("n_files", IntegerType, nullable = false)
        .add("total_bytes", LongType, nullable = false)
        .add("row_count", LongType, nullable = false)
      val conf = new org.apache.hadoop.conf.Configuration()
      // ONE version read: files and stats must come from the SAME
      // snapshot (a concurrent commit between two currentVersion
      // calls would pair one snapshot's files with another's stats)
      val ver = cat.currentVersion(table)
      val stats = ver.map(cat.statsOrEmpty(table, _)).getOrElse(Map.empty)
      val dataRoot = Paths.get(cat.dataPath(table)).toAbsolutePath.normalize
      def partitionOf(f: String): String = {
        val p = Paths.get(f).toAbsolutePath.normalize
        if (!p.startsWith(dataRoot)) ""
        else dataRoot.relativize(p).iterator().asScala.map(_.toString)
          .filter(_.contains('=')).mkString("/")
      }
      def rowsOf(f: String): Long =
        stats.get(f).flatMap(_.values.headOption.map(_.rowCount)).getOrElse {
          try FileStats.rowCount(f, conf)
          catch { case scala.util.control.NonFatal(_) => 0L }
        }
      val rows = ver.toSeq
        .flatMap(v => cat.manifest(table, v))
        .groupBy(partitionOf)
        .toSeq.sortBy(_._1)
        .map { case (part, fs) =>
          new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(part),
            fs.size, fs.map(sizeOf).sum, fs.map(rowsOf).sum)): InternalRow
        }
      local(s"$table.partitions", schema, rows)
    case "column_stats" =>
      // Table-level column profile rolled up from the manifest's
      // per-file stats: min/max (numerics, as double), null count,
      // row count, bloom-index coverage — the "what's in this column"
      // profiling query as an O(manifest) metadata read. A column
      // appears ONLY if every current-snapshot file carries stats for
      // it (partial coverage would silently under-count nulls/rows);
      // `n_files` says how many files back the row.
      val cschema = new StructType()
        .add("col_name", org.apache.spark.sql.types.StringType, nullable = false)
        .add("value_min", org.apache.spark.sql.types.DoubleType, nullable = true)
        .add("value_max", org.apache.spark.sql.types.DoubleType, nullable = true)
        .add("null_count", LongType, nullable = false)
        .add("row_count", LongType, nullable = false)
        .add("n_files", IntegerType, nullable = false)
        .add("bloom_indexed", org.apache.spark.sql.types.BooleanType, nullable = false)
      // ONE version read (see the partitions branch): files and stats
      // from the same snapshot
      val cur = cat.currentVersion(table).map(cat.snapshot(table, _)).getOrElse(Codec.Manifest())
      val curFiles = cur.files
      val allStats = cur.statsByFile
      def numeric(v: Any): Option[Double] = v match {
        case null => None
        // manifest decode yields Long/Double/BigDecimal; the extra
        // integral/float cases are defensive for future stat sources
        case n: java.lang.Number => Some(n.doubleValue())
        case _ => None
      }
      val covered =
        if (curFiles.isEmpty || !curFiles.forall(allStats.contains)) Seq.empty
        else {
          val perFile = curFiles.map(allStats)
          perFile.map(_.keySet).reduce(_ intersect _).toSeq.sorted.map { c =>
            val cs = perFile.map(_(c))
            // min/max over the files that HAVE a numeric min/max: an
            // all-NULL (or zero-row) file legitimately carries null
            // stats and must not null out the table-wide answer —
            // SQL's min/max ignore NULLs, and the q96 oracle computes
            // exactly that. Non-numeric (string) columns contribute
            // no numeric bounds at all -> NULL min/max.
            val mins = cs.flatMap(s => numeric(s.min))
            val maxs = cs.flatMap(s => numeric(s.max))
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(c),
              if (mins.nonEmpty) mins.min else null,
              if (maxs.nonEmpty) maxs.max else null,
              cs.map(_.nullCount).sum, cs.map(_.rowCount).sum,
              cs.size, cs.forall(_.bloom.isDefined))): InternalRow
          }
        }
      local(s"$table.column_stats", cschema, covered)
    case "staged" =>
      // write-audit-publish introspection: one row per staged
      // (unpublished) snapshot awaiting its audit verdict
      val schema = new StructType()
        .add("stage_id", org.apache.spark.sql.types.StringType, nullable = false)
        .add("staged_at", TimestampType, nullable = false)
        .add("n_files", IntegerType, nullable = false)
        .add("total_bytes", LongType, nullable = false)
      // a stage published/discarded between the listing and the per-id
      // reads is the NORMAL lifecycle (not an expiry corner case):
      // skip the vanished row, never fail the metadata query
      val rows = cat.listStaged(table).flatMap { id =>
        try {
          val files = cat.stagedManifest(table, id)
          val mtimeMicros = Files.getLastModifiedTime(cat.stagedFile(table, id)).toMillis * 1000L
          Some(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(id),
            mtimeMicros, files.size, files.map(sizeOf).sum)): InternalRow)
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }
      local(s"$table.staged", schema, rows)
    case "tags" =>
      val schema = new StructType()
        .add("tag", org.apache.spark.sql.types.StringType, nullable = false)
        .add("version", IntegerType, nullable = false)
      val rows = cat.tags(table).toSeq.sortBy(_._1).map { case (t, v) =>
        new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(t), v)): InternalRow
      }
      local(s"$table.tags", schema, rows)
    case "refs" =>
      // Iceberg's unified refs view: every named pointer into the
      // snapshot space — tags (immutable) and branches (writable, the
      // version is the branch HEAD's manifest) — one row each, the
      // "what can I address by name on this table" answer
      val schema = new StructType()
        .add("ref_name", org.apache.spark.sql.types.StringType, nullable = false)
        .add("ref_type", org.apache.spark.sql.types.StringType, nullable = false)
        .add("version", IntegerType, nullable = false)
      def str(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val tagRows = cat.tags(table).toSeq.sortBy(_._1).map { case (tg, v) =>
        new GenericInternalRow(Array[Any](str(tg), str("tag"), v)): InternalRow
      }
      val branchRows = cat.listBranches(table).flatMap { b =>
        cat.currentVersion(table, Ref.Branch(b)).map(h =>
          new GenericInternalRow(Array[Any](str(b), str("branch"), h)): InternalRow)
      }
      local(s"$table.refs", schema, tagRows ++ branchRows)
    case "branches" =>
      // branch-ref introspection: head/fork versions + head size. A
      // branch dropped between the listing and its reads is normal
      // lifecycle (same as staged) — skip, never fail
      val schema = new StructType()
        .add("branch", org.apache.spark.sql.types.StringType, nullable = false)
        .add("head_version", IntegerType, nullable = false)
        .add("forked_at_version", IntegerType, nullable = true)
        .add("committed_at", TimestampType, nullable = false)
        .add("n_files", IntegerType, nullable = false)
        .add("total_bytes", LongType, nullable = false)
        // branch-MOR health: non-zero = the head serves merged reads
        // and needs applyDeletes/compact on the branch before raw
        // consumers (WAP COW DML) can run
        .add("pending_delete_entries", IntegerType, nullable = false)
      val rows = cat.listBranches(table).flatMap { b =>
        try {
          val ref = Ref.Branch(b)
          cat.currentVersion(table, ref).map { head =>
            val snap = cat.snapshot(table, head, ref)
            val files = snap.files
            val fork = snap.props.get(TableCatalog.BranchBaseProp).flatMap(_.toIntOption)
            val mtimeMicros = Files.getLastModifiedTime(
              cat.manifestFile(table, head, ref)).toMillis * 1000L
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(b),
              head, fork.map(Int.box).orNull, mtimeMicros,
              files.size, files.map(sizeOf).sum,
              cat.pendingDeletes(table, head, ref).size)): InternalRow
          }
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }
      local(s"$table.branches", schema, rows)
    case "deletes" =>
      // pending merge-on-read delete files of the CURRENT snapshot:
      // the operator's observability surface (what will applyDeletes
      // rewrite, how many delete rows ride each entry, which kind).
      // `rows` is position pairs for position entries and key tuples
      // for equality entries; a clean table returns zero rows.
      val schema = new StructType()
        .add("kind", org.apache.spark.sql.types.StringType, nullable = false)
        .add("delete_rows", LongType, nullable = false)
        .add("n_dirty_files", IntegerType, nullable = false)
        .add("key_cols", org.apache.spark.sql.types.StringType, nullable = true)
        .add("size_bytes", LongType, nullable = false)
      val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
      val rows = cat.currentVersion(table).toSeq
        .flatMap(v => cat.pendingDeletes(table, v))
        .map { e =>
          val kind = if (e.isEquality) "equality" else "position"
          val nRows =
            try FileStats.rowCount(e.deleteFile, conf)
            catch { case scala.util.control.NonFatal(_) => -1L }
          new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(kind),
            nRows, e.dirtyFiles.size,
            if (e.isEquality)
              org.apache.spark.unsafe.types.UTF8String.fromString(e.eqKeyCols.mkString(","))
            else null,
            sizeOf(e.deleteFile))): InternalRow
        }
      local(s"$table.deletes", schema, rows)
    case "changelog" =>
      // the CDC surface, batch AND streaming — data-sized, so not a
      // LocalScan: see ChangelogTable
      new ChangelogTable(cat, table)
    case other =>
      throw new IllegalArgumentException(s"unknown metadata table: $other")
  }

  private def sizeOf(f: String): Long = {
    val p = Paths.get(f)
    if (Files.isRegularFile(p)) Files.size(p) else 0L
  }

  private def local(tableName: String, tableSchema: StructType, rowSeq: Seq[InternalRow]): Table =
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = tableSchema
      override def capabilities(): java.util.Set[TableCapability] =
        Set(TableCapability.BATCH_READ).asJava
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): Scan = new LocalScan {
            override def rows(): Array[InternalRow] = rowSeq.toArray
            override def readSchema(): StructType = tableSchema
          }
        }
    }
}
