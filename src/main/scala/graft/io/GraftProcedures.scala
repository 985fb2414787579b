package graft.io

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance procedures for the graft catalog — Iceberg's
  * `CALL catalog.system.<proc>(...)` surface over our manifest layer:
  *
  *   CALL graft.system.expire_snapshots('default.t', 2)
  *   CALL graft.system.remove_orphan_files('default.t')
  *   CALL graft.system.compact('default.t')
  *   CALL graft.system.compact_sorted('default.t', 'k1,k2', 8)
  *   CALL graft.system.compact_zorder('default.t', 'a', 'b', 8)
  *   CALL graft.system.add_bloom_index('default.t', 'k')
  *
  * Each runs the corresponding TableIO/TableCatalog maintenance
  * primitive and returns its outcome as rows (expired versions,
  * deleted paths, file counts) through a driver-local scan — these are
  * metadata operations; only `compact` launches distributed work (the
  * rewrite itself is a Spark job).
  */
private[io] object GraftProcedures {

  def list(): Array[String] =
    Array("expire_snapshots", "remove_orphan_files", "compact", "compact_sorted",
      "compact_zorder", "add_bloom_index", "set_column_nullability",
      "rewrite_partition_spec", "tag_snapshot",
      "remove_tag", "rollback_to_snapshot", "create_branch", "fast_forward",
      "drop_branch", "expire_branch_snapshots", "mor_delete", "apply_deletes",
      "apply_deletes_branch", "compact_where", "set_write_order", "set_write_distribution",
      "refresh_mv", "vacuum")

  def load(cat: TableCatalog, name: String): Option[UnboundProcedure] = name match {
    case "expire_snapshots" =>
      // Optional third arg `release_stream_mark` (default false) is the
      // decommissioned-stream escape hatch — see
      // TableCatalog.expireSnapshots. Bound by call arity so the
      // two-arg form keeps its signature.
      Some(new UnboundProcedure {
        override def name(): String = "expire_snapshots"
        override def description(): String = "graft maintenance procedure expire_snapshots"
        override def bind(inputType: StructType): BoundProcedure = {
          val withRelease = inputType.size >= 3
          val params = Seq("table" -> StringType, "keep_last" -> IntegerType) ++
            (if (withRelease) Seq("release_stream_mark" -> BooleanType) else Nil)
          bound("expire_snapshots", params,
            new StructType().add("expired_version", IntegerType, nullable = false),
            (in: InternalRow) => {
              val t = in.getUTF8String(0).toString
              val release = withRelease && !in.isNullAt(2) && in.getBoolean(2)
              cat.expireSnapshots(t, in.getInt(1), release)
                .map(v => new GenericInternalRow(Array[Any](v)))
            })
        }
      })
    case "remove_orphan_files" =>
      // optional older_than_ms (Iceberg's `older_than`): default 24h
      // protects commit-in-flight writers; pass 0 or negative to
      // reclaim everything unreferenced right now (test/decommission)
      Some(new UnboundProcedure {
        override def name(): String = "remove_orphan_files"
        override def description(): String = "graft maintenance procedure remove_orphan_files"
        override def bind(inputType: StructType): BoundProcedure = {
          val withAge = inputType.size >= 2
          val params = Seq("table" -> StringType) ++
            (if (withAge) Seq("older_than_ms" -> LongType) else Nil)
          bound("remove_orphan_files", params,
            new StructType().add("deleted_file", StringType, nullable = false),
            (in: InternalRow) => {
              val t = in.getUTF8String(0).toString
              val age = if (withAge && !in.isNullAt(1)) in.getLong(1) else 24L * 3600 * 1000
              cat.removeOrphanFiles(t, age)
                .map(f => new GenericInternalRow(Array[Any](UTF8String.fromString(f))))
            })
        }
      })
    case "mor_delete" =>
      // merge-on-read DELETE: records (file, position) pairs instead
      // of rewriting files — O(matched rows), data files untouched.
      // The predicate is a SQL expression over the table's columns.
      // Optional third arg `branch` (bound by call arity) stacks the
      // delete on the BRANCH chain — the audit/WAP flavor.
      Some(new UnboundProcedure {
        override def name(): String = "mor_delete"
        override def description(): String = "graft maintenance procedure mor_delete"
        override def bind(inputType: StructType): BoundProcedure = {
          val withBranch = inputType.size >= 3
          val params = Seq("table" -> StringType, "predicate" -> StringType) ++
            (if (withBranch) Seq("branch" -> StringType) else Nil)
          bound("mor_delete", params,
            new StructType().add("version", IntegerType, nullable = false)
              .add("deleted_rows", LongType, nullable = false),
            (in: InternalRow) => {
              val t = in.getUTF8String(0).toString
              val pred = in.getUTF8String(1).toString
              val ref = if (withBranch && !in.isNullAt(2))
                Ref.Branch(in.getUTF8String(2).toString) else Ref.Main
              val io = new TableIO(SparkSession.active, cat)
              val (v, n) = io.deleteWhereMOR(t,
                org.apache.spark.sql.functions.expr(pred), ref)
              Seq(new GenericInternalRow(Array[Any](v, n)))
            })
        }
      })
    case "apply_deletes" =>
      // materialize pending position deletes: rewrite ONLY the dirty
      // files and clear the prop, restoring the pure-scan plan
      Some(proc("apply_deletes",
        Seq("table" -> StringType),
        new StructType().add("version", IntegerType, nullable = false)
          .add("rewritten_files", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val io = new TableIO(SparkSession.active, cat)
          val pcols = cat.tablePartitionCols(t).getOrElse(Seq.empty)
          val (v, n) = io.applyDeletes(t, pcols)
          Seq(new GenericInternalRow(Array[Any](v, n)))
        }))
    case "apply_deletes_branch" =>
      // the branch twin: rewrite the BRANCH head's dirty files, clear
      // its prop, keep the fork base (cadence maintenance for a
      // long-lived CDC audit branch)
      Some(proc("apply_deletes_branch",
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("branch_version", IntegerType, nullable = false)
          .add("rewritten_files", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val b = in.getUTF8String(1).toString
          val io = new TableIO(SparkSession.active, cat)
          val pcols = cat.tablePartitionCols(t).getOrElse(Seq.empty)
          val (v, n) = io.applyDeletes(t, pcols, Ref.Branch(b))
          Seq(new GenericInternalRow(Array[Any](v, n)))
        }))
    case "compact" =>
      Some(proc("compact",
        Seq("table" -> StringType),
        new StructType().add("files_before", LongType, nullable = false)
          .add("files_after", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val spark = SparkSession.active
          val io = new TableIO(spark, cat)
          val before = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          val pcols = cat.tablePartitionCols(t).getOrElse(Seq.empty)
          io.compact(t, pcols)
          val after = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          Seq(new GenericInternalRow(Array[Any](before.toLong, after.toLong)))
        }))
    case "set_write_order" =>
      // persisted write sort order (Iceberg's write.sort-order):
      // '' clears it; comma-separated columns set it
      Some(proc("set_write_order",
        Seq("table" -> StringType, "sort_cols" -> StringType),
        new StructType().add("sort_cols", StringType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty)
          val io = new TableIO(SparkSession.active, cat)
          io.setWriteSortOrder(t, cols.toSeq)
          Seq(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(cols.mkString(",")))))
        }))
    case "set_write_distribution" =>
      // write distribution mode (Iceberg's write.distribution-mode):
      // 'hash' clusters each batch by the layout columns; 'none' clears
      Some(proc("set_write_distribution",
        Seq("table" -> StringType, "mode" -> StringType),
        new StructType().add("mode", StringType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val mode = in.getUTF8String(1).toString
          val io = new TableIO(SparkSession.active, cat)
          io.setWriteDistribution(t, mode)
          Seq(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(mode.trim.toLowerCase))))
        }))
    case "set_column_nullability" =>
      // NOT NULL constraint surface: Spark's v2 ALTER refuses
      // nullable->non-nullable in CheckAnalysis, so SET NOT NULL rides
      // this procedure (and the ALTER TABLE ... SET NOT NULL parser
      // sugar over it); existing rows validate inside
      Some(proc("set_column_nullability",
        Seq("table" -> StringType, "column" -> StringType, "nullable" -> BooleanType),
        new StructType().add("column", StringType, nullable = false)
          .add("nullable", BooleanType, nullable = false),
        (in: InternalRow) => {
          val (t, c, n) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString,
            in.getBoolean(2))
          val io = new TableIO(SparkSession.active, cat)
          io.setColumnNullability(t, c, n)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(c), n)))
        }))
    case "compact_where" =>
      // predicate-scoped compaction: only files the predicate can
      // touch rewrite (Iceberg rewrite_data_files(where) / Delta
      // OPTIMIZE WHERE); returns how many did
      Some(proc("compact_where",
        Seq("table" -> StringType, "predicate" -> StringType),
        new StructType().add("files_rewritten", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val pred = in.getUTF8String(1).toString
          val spark = SparkSession.active
          val io = new TableIO(spark, cat)
          val n = io.compactWhere(t, org.apache.spark.sql.functions.expr(pred))
          Seq(new GenericInternalRow(Array[Any](n.toLong)))
        }))
    case "compact_sorted" =>
      // sort_cols is comma-separated; target_files bounds the rewrite
      Some(proc("compact_sorted",
        Seq("table" -> StringType, "sort_cols" -> StringType, "target_files" -> IntegerType),
        new StructType().add("files_before", LongType, nullable = false)
          .add("files_after", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val io = new TableIO(SparkSession.active, cat)
          val before = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          io.compactSorted(t, cols, in.getInt(2),
            cat.tablePartitionCols(t).getOrElse(Seq.empty))
          val after = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          Seq(new GenericInternalRow(Array[Any](before.toLong, after.toLong)))
        }))
    case "compact_zorder" =>
      Some(proc("compact_zorder",
        Seq("table" -> StringType, "col_a" -> StringType, "col_b" -> StringType,
          "target_files" -> IntegerType),
        new StructType().add("files_before", LongType, nullable = false)
          .add("files_after", LongType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val io = new TableIO(SparkSession.active, cat)
          val before = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          io.compactZOrder(t, in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getInt(3), cat.tablePartitionCols(t).getOrElse(Seq.empty))
          val after = cat.currentVersion(t).map(cat.manifest(t, _).size).getOrElse(0)
          Seq(new GenericInternalRow(Array[Any](before.toLong, after.toLong)))
        }))
    case "rewrite_partition_spec" =>
      // partition-spec evolution as an EXPLICIT rewrite (see
      // TableIO.respecTable). Specs are ';'-separated — commas live
      // inside bucket(n, col)/truncate(w, col).
      Some(proc("rewrite_partition_spec",
        Seq("table" -> StringType, "spec" -> StringType),
        new StructType().add("new_version", IntegerType, nullable = false)
          .add("spec", StringType, nullable = false),
        (in: InternalRow) => {
          val t = in.getUTF8String(0).toString
          val specs = in.getUTF8String(1).toString.split(';').map(_.trim).filter(_.nonEmpty).toSeq
          val io = new TableIO(SparkSession.active, cat)
          io.respecTable(t, specs)
          Seq(new GenericInternalRow(Array[Any](
            cat.currentVersion(t).getOrElse(0),
            org.apache.spark.unsafe.types.UTF8String.fromString(
              cat.readMeta(t).partitionSpec.mkString("; ")))))
        }))
    case "add_bloom_index" =>
      // per-file bloom membership index over one column (metadata-only
      // commit; see TableIO.addBloomIndex). Incremental: re-running
      // indexes only files added since the last call.
      Some(proc("add_bloom_index",
        Seq("table" -> StringType, "column" -> StringType),
        new StructType().add("files_indexed", LongType, nullable = false),
        (in: InternalRow) => {
          val io = new TableIO(SparkSession.active, cat)
          val n = io.addBloomIndex(in.getUTF8String(0).toString, in.getUTF8String(1).toString)
          Seq(new GenericInternalRow(Array[Any](n.toLong)))
        }))
    case "create_branch" =>
      // Iceberg branch parity: fork a writable ref at the current
      // snapshot; returns the branch's v1 + the fork point
      Some(proc("create_branch",
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("branch", StringType, nullable = false)
          .add("branch_version", IntegerType, nullable = false)
          .add("forked_at_version", IntegerType, nullable = false),
        (in: InternalRow) => {
          val (t, b) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
          val bv = cat.createBranch(t, b)
          // the fork point is whatever createBranch RECORDED under its
          // lock — re-deriving currentVersion here could disagree with
          // the manifest prop if an append landed in between
          val fork = cat.manifestProps(t, bv, Ref.Branch(b))
            .get(TableCatalog.BranchBaseProp).flatMap(_.toIntOption).getOrElse(0)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(b), bv, fork)))
        }))
    case "fast_forward" =>
      // metadata-only integration of the branch head into main;
      // refuses a diverged main (see TableCatalog.fastForward)
      Some(proc("fast_forward",
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("branch", StringType, nullable = false)
          .add("current_version", IntegerType, nullable = false),
        (in: InternalRow) => {
          val (t, b) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
          val v = cat.fastForward(t, b)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(b), v)))
        }))
    case "expire_branch_snapshots" =>
      // branch-chain twin of expire_snapshots: prune old branch
      // manifests, always retaining the head and the newest
      // stream-marked manifest (the replay guard)
      Some(proc("expire_branch_snapshots",
        Seq("table" -> StringType, "branch" -> StringType, "keep_last" -> IntegerType),
        new StructType().add("expired_version", IntegerType, nullable = false),
        (in: InternalRow) => {
          val (t, b, k) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString, in.getInt(2))
          cat.expireSnapshots(t, k, ref = Ref.Branch(b))
            .map(v => new GenericInternalRow(Array[Any](v)))
        }))
    case "drop_branch" =>
      Some(proc("drop_branch",
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("branch", StringType, nullable = false)
          .add("existed", BooleanType, nullable = false),
        (in: InternalRow) => {
          val (t, b) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
          val existed = cat.dropBranch(t, b)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(b), existed)))
        }))
    case "tag_snapshot" =>
      Some(proc("tag_snapshot",
        Seq("table" -> StringType, "tag" -> StringType, "version" -> IntegerType),
        new StructType().add("tag", StringType, nullable = false)
          .add("version", IntegerType, nullable = false),
        (in: InternalRow) => {
          val (t, tag, v) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString, in.getInt(2))
          cat.tagSnapshot(t, tag, v)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(tag), v)))
        }))
    case "rollback_to_snapshot" =>
      // Iceberg parity: restore an earlier snapshot's state as a NEW
      // current version (history is audit-readable, never rewritten)
      Some(proc("rollback_to_snapshot",
        Seq("table" -> StringType, "version" -> IntegerType),
        new StructType().add("previous_version", IntegerType, nullable = false)
          .add("current_version", IntegerType, nullable = false),
        (in: InternalRow) => {
          val (t, v) = (in.getUTF8String(0).toString, in.getInt(1))
          val prev = cat.currentVersion(t).getOrElse(
            throw new IllegalArgumentException(s"table not found: $t"))
          val cur = cat.rollbackTo(t, v)
          Seq(new GenericInternalRow(Array[Any](prev, cur)))
        }))
    case "vacuum" =>
      // Unified retention sweep (r19 verdict item 6): the safe
      // composition of the three maintenance CALLs in the only
      // correct order — expire main snapshots, expire every branch's
      // chain, THEN the age-guarded orphan sweep (expiry is what
      // turns an old snapshot's superseded files into orphans; a
      // sweep-first order would find nothing). Tags always survive
      // (expireSnapshots skips tagged versions), branch heads and the
      // newest stream-marked manifest always survive (their expiry
      // guards), and the age guard protects commit-in-flight writers
      // in other processes. Returns the reclaimed inventory:
      //   (action, ref, reclaimed_bytes)
      // with byte sizes captured BEFORE deletion.
      Some(new UnboundProcedure {
        override def name(): String = "vacuum"
        override def description(): String = "graft maintenance procedure vacuum"
        override def bind(inputType: StructType): BoundProcedure = {
          val withAge = inputType.size >= 3
          val params = Seq("table" -> StringType, "keep_last" -> IntegerType) ++
            (if (withAge) Seq("older_than_ms" -> LongType) else Nil)
          bound("vacuum", params,
            new StructType().add("action", StringType, nullable = false)
              .add("ref", StringType, nullable = false)
              .add("reclaimed_bytes", LongType, nullable = false),
            (in: InternalRow) => {
              val t = in.getUTF8String(0).toString
              val keep = in.getInt(1)
              val age = if (withAge && !in.isNullAt(2)) in.getLong(2) else 24L * 3600 * 1000
              // size every data file BEFORE the sweep so the report
              // can attribute reclaimed bytes after deletion
              val sizes: Map[String, Long] = cat.listDataFiles(t).map { f =>
                f -> (try java.nio.file.Files.size(java.nio.file.Paths.get(f))
                      catch { case _: java.io.IOException => 0L })
              }.toMap
              def row(action: String, ref: String, bytes: Long) =
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(action), UTF8String.fromString(ref), bytes))
              val expired = cat.expireSnapshots(t, keep)
                .map(v => row("expired_snapshot", s"v$v", 0L))
              val branchExpired = cat.listBranches(t).flatMap { b =>
                cat.expireSnapshots(t, keep, ref = Ref.Branch(b))
                  .map(v => row("expired_branch_snapshot", s"$b@v$v", 0L))
              }
              val orphans = cat.removeOrphanFiles(t, age).sorted.map { f =>
                row("orphan_file", f, sizes.getOrElse(f, 0L))
              }
              expired ++ branchExpired ++ orphans
            })
        }
      })
    case "refresh_mv" =>
      // incremental materialized-view refresh: roll the backing
      // summary forward by the base table's changelog since the last
      // refreshed version (O(delta), never a recompute) and advance
      // the view document's staleness marker
      Some(proc("refresh_mv",
        Seq("view" -> StringType),
        new StructType().add("from_version", IntegerType, nullable = false)
          .add("to_version", IntegerType, nullable = false)
          .add("rows_applied", LongType, nullable = false),
        (in: InternalRow) => {
          val v = in.getUTF8String(0).toString
          val (from, to, n) = MaterializedViews.refresh(SparkSession.active, cat, v)
          Seq(new GenericInternalRow(Array[Any](from, to, n)))
        }))
    case "remove_tag" =>
      Some(proc("remove_tag",
        Seq("table" -> StringType, "tag" -> StringType),
        new StructType().add("removed", BooleanType, nullable = false),
        (in: InternalRow) => {
          val (t, tag) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
          val had = cat.tags(t).contains(tag)
          cat.removeTag(t, tag)
          Seq(new GenericInternalRow(Array[Any](had)))
        }))
    case _ => None
  }

  private def proc(
      procName: String,
      params: Seq[(String, DataType)],
      outSchema: StructType,
      run: InternalRow => Seq[InternalRow]
  ): UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure =
      bound(procName, params, outSchema, run)
  }

  private def bound(
      procName: String,
      params: Seq[(String, DataType)],
      outSchema: StructType,
      run: InternalRow => Seq[InternalRow]
  ): BoundProcedure = new BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft maintenance procedure $procName"
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, dt) => ProcedureParameter.in(n, dt).build() }.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // name must differ from the LocalScan method: `def rows() = rows`
      // resolves to the method itself (an infinite tail-recursive loop)
      val resultRows = run(input).toArray[InternalRow]
      Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = resultRows
        override def readSchema(): StructType = outSchema
      }).iterator()
    }
  }
}
