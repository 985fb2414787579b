package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `<table>.changelog` metadata table — the CDC surface in both
  * execution modes (Iceberg's `.changes` metadata table / Delta's
  * change data feed):
  *
  *   - BATCH: `SELECT * FROM cat.ns.t.changelog` serves
  *     [[TableIO.readChangelog]] — the NET row-level changes of a
  *     version range as data rows + `_change_type`
  *     ("INSERT"/"DELETE") + `_change_version`, with
  *     `option("fromVersion", n)` / `option("toVersion", n)` bounds
  *     (defaults: full history to current).
  *   - STREAMING: `spark.readStream.table("cat.ns.t.changelog")`
  *     serves the same rows PER MICRO-BATCH with the checkpointed
  *     version offset — the streaming CDF consumer. Each batch costs
  *     O(files its commits touched): pure appends stream their files
  *     directly with constant-tagged rows (no extra I/O), and rewrite
  *     commits (COW DML, MERGE) net their row diff via the changelog
  *     core, staged once under the stream's own checkpoint directory.
  *     A pure compaction nets to zero rows, so CDC consumers ride
  *     through maintenance with no option needed — the file diff
  *     cancels carried rows by construction.
  *
  * MERGE-ON-READ commits are first-class (Iceberg's changelog-with-
  * deletes): a MOR delete/upsert changes no files, but its new entries
  * report the rows they kill as DELETEs at that version — computed
  * from the entries' own delete parquet against the pre-commit live
  * state — and applyDeletes nets to zero because the file diff runs
  * against the MERGED content of removed files. Expired manifests
  * refuse loudly with the recovery step; renamed-column and
  * Hive-dir-partitioned tables are batch-only changelog sources, same
  * shape rule as the plain table stream.
  */
private[io] class ChangelogTable(
    cat: TableCatalog,
    tableName: String
) extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active
  private def io: TableIO = new TableIO(spark, cat)

  // the DATA schema under logical names (declared schema + renames +
  // hidden-layout stripping all applied by the normal read path)
  private lazy val dataSchema: StructType = io.read(tableName).schema

  override def name(): String = s"$tableName.changelog"

  override def schema(): StructType = StructType(dataSchema.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_change_version", IntegerType, nullable = true)))

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)

      override def build(): Scan = new org.apache.spark.sql.connector.read.V1Scan {
        private val full = schema()
        private val read = required.getOrElse(full)
        override def readSchema(): StructType = read

        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
            ctx: org.apache.spark.sql.SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = ctx
            override def schema: StructType = read
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              def intOpt(key: String): Option[Int] =
                Option(options.get(key)).map { raw =>
                  raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
                    s"changelog read of $tableName: option $key must be an integer, got '$raw'"))
                }
              // batch reads bound with fromVersion/toVersion; the
              // streaming-only start options would silently no-op here
              Seq("startingVersion", "startingTimestamp").foreach { k =>
                if (options.get(k) != null) throw new IllegalArgumentException(
                  s"changelog read of $tableName: option $k is streaming-only — " +
                    "batch reads bound the range with fromVersion/toVersion")
              }
              // Delta-CDF-style TIMESTAMP bounds (batch, main chain):
              // fromTimestamp serves commits AT OR AFTER the instant,
              // toTimestamp at or before it — both resolved through
              // the TIMESTAMP AS OF rule (manifest commit instants)
              def tsOpt(key: String): Option[Long] = Option(options.get(key))
                .map(StreamShape.parseTimestamp("changelog read", tableName, key, _))
              Seq("fromVersion" -> "fromTimestamp", "toVersion" -> "toTimestamp")
                .foreach { case (v, ts) =>
                  if (options.get(v) != null && options.get(ts) != null)
                    throw new IllegalArgumentException(
                      s"changelog read of $tableName: options $v and $ts are " +
                        "mutually exclusive")
                }
              val ref = ChangelogStream.refOf(options)
              // timestamps resolve on main's timeline only: branch
              // commits have no main-timeline instants
              if (ref != Ref.Main) Seq("fromTimestamp", "toTimestamp").foreach { k =>
                if (options.get(k) != null) throw new IllegalArgumentException(
                  s"changelog read of $tableName: option $k is main-only " +
                    "(branch commits have no main-timeline instants) — bound " +
                    "branch ranges with fromVersion/toVersion")
              }
              // default fromVersion = the ref's origin: main's full
              // history, or "the branch's own changes" since its fork
              val fromV = intOpt("fromVersion")
                .orElse(tsOpt("fromTimestamp").map(ts =>
                  cat.versionAsOf(tableName, ts - 1).getOrElse(0)))
                .getOrElse(ref.origin)
              val toV = intOpt("toVersion")
                .orElse(tsOpt("toTimestamp").map(ts =>
                  // no commit at or before the instant = zero changes
                  cat.versionAsOf(tableName, ts).getOrElse(0)))
              if (toV.contains(0))
                // the version-0 "table" has no manifest to derive a
                // frame from — serve the scan schema's empty set
                return ctx.sparkSession.sparkContext
                  .emptyRDD[org.apache.spark.sql.Row]
              new TableIO(ctx.sparkSession, cat).readChangelog(tableName, fromV, toV, ref)
                .select(read.fields.toSeq
                  .map(f => org.apache.spark.sql.functions.col(f.name)): _*).rdd
            }
          }.asInstanceOf[T]

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          // the batch-only bounds would silently serve the FULL
          // history to a stream that believes it set a range
          Seq("fromVersion", "toVersion").foreach { k =>
            if (options.get(k) != null) throw new IllegalArgumentException(
              s"$tableName.changelog: option $k is batch-only — streams start at " +
                "startingVersion (or startingTimestamp) and follow the head")
          }
          // BRANCH changelogs stream too (Iceberg's branch CDC — the
          // WAP auditor's consumer): offsets embed the FORK ID minted
          // at createBranch, so a drop+re-create under the same name
          // invalidates the checkpoint loudly instead of serving the
          // new fork's restarted version numbers against stale state
          val ref = ChangelogStream.refOf(options)
          if (ref != Ref.Main && cat.currentVersion(tableName, ref).isEmpty)
            throw new IllegalArgumentException(s"$tableName.changelog: ${ref.missing(tableName)}")
          val meta = cat.readMeta(tableName)
          if (meta.renames.nonEmpty) throw new UnsupportedOperationException(
            s"$tableName.changelog: renamed-column tables are batch-only changelog " +
              "sources (per-batch file reads run under physical names; use " +
              "readChangelog, or compact() to rewrite files under current names)")
          val dataRoot = Paths.get(cat.dataPath(tableName)).toAbsolutePath.normalize
          val headFiles = cat.currentVersion(tableName, ref).toSeq
            .flatMap(v => cat.manifest(tableName, v, ref))
          if (headFiles.exists(StreamShape.hiveDirFile(dataRoot, _)))
            throw new UnsupportedOperationException(
              s"$tableName.changelog: Hive-dir-partitioned tables are batch-only " +
                "changelog sources (directory values cannot ride the fixed streaming " +
                "row shape; hidden-layout gp_* tables stream fine)")
          new ChangelogMicroBatchStream(tableName, cat, dataSchema, read,
            options, checkpointLocation, ref)
        }
      }
    }
}

/** Micro-batch half of [[ChangelogTable]]: offset = snapshot version
  * (checkpointed), each batch serves the changelog rows of
  * `(startOffset, endOffset]`. Append commits stream their files
  * directly — a per-partition wrapper appends the constant
  * (`_change_type`, `_change_version`) pair, so the hot path costs
  * zero extra I/O. Rewrite commits stage their net row diff (the
  * [[TableIO.readChangelog]] single-step frame) as parquet under
  * `<checkpoint>/graft-cdf-stage/v<version>/` — O(files touched),
  * overwritten idempotently on replanning and swept on batch commit.
  */
private[io] class ChangelogMicroBatchStream(
    tableName: String,
    cat: TableCatalog,
    dataSchema: StructType,
    streamSchema: StructType,
    options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    ref: Ref = Ref.Main
) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val label = ref.describe(tableName)

  // Branch version numbering RESTARTS per fork, so a checkpointed
  // branch offset is only meaningful against the fork it came from:
  // offsets embed the fork id minted at createBranch (fork records
  // predating the id get a stable placeholder — a later re-fork still
  // mints a real id, so the mismatch refusal keeps working).
  private val forkId: Option[String] = ref match {
    case Ref.Main => None
    case b: Ref.Branch =>
      try Some(cat.manifestProps(tableName, 1, b)
        .getOrElse(TableCatalog.BranchForkIdProp, "legacy-fork"))
      catch { case _: java.nio.file.NoSuchFileException => Some("expired-fork") }
  }

  private case class V(v: Int) extends Offset {
    override def json(): String = v.toString
  }
  private case class BranchV(fork: String, v: Int) extends Offset {
    override def json(): String = s"$fork:$v"
  }
  private def offsetAt(v: Int): Offset =
    forkId.fold[Offset](V(v))(BranchV(_, v))
  private def versionOf(o: Offset): Int = o match {
    case BranchV(fork, v) =>
      if (!forkId.contains(fork)) throw new IllegalStateException(
        s"changelog stream over $label: checkpointed offset belongs to branch fork " +
          s"$fork but the current fork is ${forkId.getOrElse("<main>")} — the branch " +
          "was dropped and re-created (version numbering restarted), so this " +
          "checkpoint cannot resume. Start a fresh checkpoint against the new fork.")
      v
    case V(v) =>
      if (forkId.isDefined) throw new IllegalStateException(
        s"changelog stream over $label: checkpointed offset carries no fork id — it " +
          "was taken from the MAIN changelog; a branch stream cannot resume it")
      v
  }

  private def headVersion: Int = cat.currentVersion(tableName, ref).getOrElse {
    if (ref != Ref.Main) throw new IllegalStateException(
      s"changelog stream over $label: the branch was dropped mid-stream")
    0
  }

  private val startV: Int = ref match {
    case Ref.Main =>
      StreamShape.startingVersion("changelog stream", tableName, cat, options)
    case b: Ref.Branch =>
      if (options.get("startingTimestamp") != null) throw new IllegalArgumentException(
        s"changelog stream over $label: startingTimestamp is main-only (branch " +
          "commits have no main-timeline instants) — use startingVersion")
      val head = cat.currentVersion(tableName, b).getOrElse(0)
      Option(options.get("startingVersion")).map { raw =>
        val v = raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"changelog stream over $label: option startingVersion must be a " +
            s"non-negative integer, got '$raw'"))
        if (v < 0 || v > head) throw new IllegalArgumentException(
          s"changelog stream over $label: option startingVersion = $v is outside " +
            s"the branch's history [0, $head]")
        v
      }.getOrElse(b.origin) // fork record: "the branch's own changes", the batch default
  }

  // admission control (Delta CDF's rate limiting): a CDC consumer
  // catching up on a long history must not stage and serve every
  // commit's diff in ONE micro-batch — checkpoint progress and
  // downstream state both want bounded batches. The version cap is
  // the natural unit here (each changelog row belongs to exactly one
  // commit); exactly-once is untouched (progress = checkpointed
  // version offset, staged diffs keyed per version).
  private val maxVersions: Option[Int] = StreamShape.positiveIntOption(
    "changelog stream", label, options, "maxVersionsPerBatch")
  // byte-budget admission (the third rate knob): a commit's CDC cost
  // scales with the bytes its diff reads — budgeted here as the bytes
  // of the files the commit ADDED (appends/rewrites; a pure-delete
  // commit reads carried files, bounded by the same history it
  // replaced). At least one version always flows.
  private val maxBytes: Option[Long] = StreamShape.positiveLongOption(
    "changelog stream", label, options, "maxBytesPerBatch")

  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(headVersion)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = versionOf(start)
    val target = availableNowTarget.getOrElse(headVersion)
    var e = maxVersions.fold(target)(mv => math.min(target, s + mv))
    maxBytes.foreach { mb =>
      // metadata-only walk mirroring the table stream's cap: stop
      // BEFORE the version whose added bytes would blow the budget,
      // always admitting at least one version. An expired manifest
      // admits — the batch planner raises the loud refusal.
      try {
        def manifestAt(v: Int): Set[String] =
          if (v == 0) Set.empty else cat.manifest(tableName, v, ref).toSet
        var prev = manifestAt(s)
        var bytes = 0L
        var chosen = s
        var v = s + 1
        var stop = false
        while (v <= e && !stop) {
          val cur = manifestAt(v)
          val bytesHere = cur.diff(prev).iterator.map(StreamShape.fileSize).sum
          if (chosen > s && bytes + bytesHere > mb) stop = true
          else {
            bytes += bytesHere
            chosen = v
            prev = cur
            v += 1
          }
        }
        e = chosen
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
      }
    }
    offsetAt(math.max(e, s))
  }

  override def reportLatestOffset(): Offset = offsetAt(headVersion)

  override def initialOffset(): Offset = offsetAt(startV)
  override def latestOffset(): Offset = offsetAt(headVersion)
  override def deserializeOffset(json: String): Offset = {
    val i = json.lastIndexOf(':')
    if (i < 0) V(json.trim.toInt)
    else BranchV(json.substring(0, i), json.substring(i + 1).trim.toInt)
  }
  override def stop(): Unit = ()

  // checkpointLocation arrives as a URI string ("file:/tmp/ckpt");
  // Paths.get on the raw string would treat the scheme as a literal
  // path segment, diverging from where the parquet writer lands
  private def stageRoot: java.nio.file.Path = {
    val base =
      try {
        val u = new java.net.URI(checkpointLocation)
        if (u.getScheme == null) Paths.get(checkpointLocation) else Paths.get(u)
      } catch { case scala.util.control.NonFatal(_) => Paths.get(checkpointLocation) }
    base.resolve("graft-cdf-stage")
  }

  /** Processed through `end`: the staged diffs at or below it are dead
    * weight in the stream's own checkpoint dir — sweep best-effort.
    */
  override def commit(end: Offset): Unit = {
    val e = versionOf(end)
    try {
      if (Files.isDirectory(stageRoot))
        Using.resource(Files.list(stageRoot)) { s =>
          s.iterator().asScala
            .filter { p =>
              val n = p.getFileName.toString
              n.startsWith(".") || n.drop(1).toIntOption.exists(_ <= e)
            }
            .toSeq
        }.foreach(TableIO.sweepDir)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  // the pruned DATA columns this stream serves (change cols appended
  // by the reader wrapper in streamSchema's own order)
  private val dataCols = StructType(
    streamSchema.fields.filterNot(f => ChangelogStream.ChangeCols.contains(f.name)))
  private val changeCols: Seq[String] =
    streamSchema.fields.map(_.name).filter(ChangelogStream.ChangeCols.contains).toSeq

  @volatile private var batchFactory: PartitionReaderFactory =
    ChangelogStream.EmptyFactory

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    import org.apache.spark.sql.functions.col
    val s = versionOf(start)
    val e = versionOf(end)
    if (e <= s) { batchFactory = ChangelogStream.EmptyFactory; return Array.empty }
    def manifestOrReject(v: Int): Seq[String] =
      if (v == 0) Seq.empty
      else
        try cat.manifest(tableName, v, ref)
        catch {
          case _: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"changelog stream over $label: snapshot $v in range [$s, $e] is " +
              "expired — its commit can no longer be diffed; restart the stream")
        }
    val spark = SparkSession.active
    val io = new TableIO(spark, cat)
    // normalized file path -> (change type, committing version)
    val tags = Map.newBuilder[String, (String, Int)]
    def norm(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
    // no catch: pendingDeletes returns empty for missing manifests, so
    // anything thrown is a CORRUPT deletes prop — loud beats silently
    // treating a MOR commit as clean (the batch core is equally loud,
    // keeping the spec-pinned streamed == batch equivalence)
    def pendingOrEmpty(v: Int): Seq[TableCatalog.DeleteEntry] =
      if (v == 0) Seq.empty else cat.pendingDeletes(tableName, v, ref)
    def opOf(v: Int): Option[String] =
      try cat.manifestProps(tableName, v, ref).get(TableCatalog.OpProp)
      catch { case scala.util.control.NonFatal(_) => None }
    var prev = manifestOrReject(s).toSet
    var prevPending = pendingOrEmpty(s)
    ((s + 1) to e).foreach { v =>
      val cur = manifestOrReject(v).toSet
      val removed = prev.diff(cur)
      val curPending = pendingOrEmpty(v)
      val pendingChanged = curPending != prevPending
      // a stamped ROLLBACK always routes through the staged exact
      // merged-state diff, even when its file/entry shape looks like a
      // pure append (re-added files with identical carried entries):
      // streamed == batch equivalence by construction, not by the
      // entry-trim invariants happening to hold
      if (!opOf(v).contains(TableCatalog.OpRollback) &&
          removed.isEmpty && !pendingChanged)
        cur.diff(prev).foreach(f => tags += norm(f) -> ("INSERT" -> v))
      else {
        // rewrite OR merge-on-read commit: net row diff via the batch
        // changelog core — carried rows cancel (a pure compaction
        // stages zero rows) and MOR entry deltas report the rows they
        // kill. Staged ONCE per version and REUSED on replanning: the
        // batch plan is re-executed (foreachBatch re-plans the scan),
        // and a re-stage would mint new random file names while the
        // earlier planning's partitions still reference the old ones.
        // The stage's named files are published into a fresh
        // dot-prefixed dir, which then moves to `c$v` whole: a present
        // `c$v` is complete and holds no failed or speculative task
        // attempt's file (those stay in the writer's staging dir, swept
        // with it). A crash mid-write leaves only dot dirs, and an
        // earlier layout's Hadoop-committer `v$v` stage is never read;
        // the batch commit sweeps both.
        val vdir = stageRoot.resolve(s"c$v")
        val staged =
          if (Files.isDirectory(vdir))
            Using.resource(Files.walk(vdir)) { w =>
              w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
                .map(vdir.relativize(_).toString).toSeq
            }
          else {
            val tmp = TableIO.newStagingDir(stageRoot.toString)
            // ONE diff job for both change types: a partitioned write
            // splits the step frame into _change_type=INSERT/DELETE
            // subdirs in a single pass instead of recomputing the
            // exceptAll/kill diff once per type
            val published = TableIO.writeStaged(
              io.readChangelog(tableName, v - 1, Some(v), ref).drop("_change_version"),
              stageRoot.toString, tmp, Seq("_change_type"))
            Files.move(tmp, vdir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            published.map(f => tmp.toAbsolutePath.normalize.relativize(Paths.get(f)).toString)
          }
        // `_change_type=<type>/part-...`: absent type = zero rows of it
        staged.foreach { n =>
          tags += norm(vdir.resolve(n).toString) ->
            (n.takeWhile(_ != '/').stripPrefix("_change_type=") -> v)
        }
      }
      prev = cur
      prevPending = curPending
    }
    val tagOf = tags.result()
    if (tagOf.isEmpty) { batchFactory = ChangelogStream.EmptyFactory; return Array.empty }
    // pre-respec identity-layout (Hive-dir) append files carry column
    // values in directory names — serving them raw would emit NULLs.
    // Staged diff files live under the checkpoint, outside the data
    // root, so they never trip this.
    val dataRoot = Paths.get(cat.dataPath(tableName)).toAbsolutePath.normalize
    tagOf.keys.find(StreamShape.hiveDirFile(dataRoot, _)).foreach { f =>
      throw new IllegalStateException(
        s"changelog stream over $label: file $f in range [$s, $e] carries column " +
          "values in Hive-style directory names (a pre-respec identity layout) — " +
          "its rows cannot ride the fixed streaming row shape. Start the stream at " +
          "or after the respec rewrite (startingVersion), or use the batch " +
          "readChangelog")
    }
    // one plain parquet batch over every tagged file, pinned to the
    // table's data schema (staged diffs and appended data files share
    // it); NO basePath — see GraftMicroBatchStream: partition
    // discovery over mixed roots silently drops files
    val files = tagOf.keys.toSeq.sorted
    val scanOptions = CaseInsensitiveStringMap.empty()
    val scanTable = ParquetTable(s"$tableName#changelog@v$e", spark,
      scanOptions, files, Some(dataSchema), classOf[ParquetFileFormat])
    val sb = scanTable.newScanBuilder(scanOptions)
    sb match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(dataCols)
      case _ => ()
    }
    val batch = sb.build().toBatch
    // split size-packed FilePartitions to TAG purity so the constant
    // pair is per-partition (same relabeling move as KeyedLayoutScan)
    val parts = batch.planInputPartitions().iterator.flatMap {
      case fp: FilePartition =>
        fp.files.groupBy { pf =>
          tagOf.getOrElse(pf.filePath.toUri.getPath,
            throw new IllegalStateException(
              s"changelog stream: no tag for planned file ${pf.filePath}"))
        }
      case other => throw new IllegalStateException(
        s"changelog stream expected FilePartition, got ${other.getClass}")
    }.zipWithIndex.map { case (((tpe, v), pfs), idx) =>
      ChangeTaggedPartition(FilePartition(idx, pfs), tpe, v): InputPartition
    }.toArray
    batchFactory =
      new ChangeTagReaderFactory(batch.createReaderFactory(), changeCols)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = batchFactory
}

private[io] object ChangelogStream {
  val ChangeCols: Set[String] = Set("_change_type", "_change_version")

  /** The chain a changelog scan reads: the `branch` option, else main. */
  def refOf(options: CaseInsensitiveStringMap): Ref =
    Option(options.get("branch")).fold[Ref](Ref.Main)(Ref.Branch)

  object EmptyFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      throw new IllegalStateException("empty changelog micro-batch planned no partitions")
  }
}

/** A delegate `FilePartition` labeled with the constant change pair its
  * rows carry.
  */
private[io] case class ChangeTaggedPartition(inner: FilePartition,
                                             changeType: String, version: Int)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Appends the partition's constant (`_change_type`,
  * `_change_version`) pair to each data row — in the pruned stream
  * schema's own column order (`changeCols` lists exactly the requested
  * change columns). Row-based on purpose: the constant join is a
  * `JoinedRow` re-use per row, and change batches are delta-sized.
  */
private[io] class ChangeTagReaderFactory(
    delegate: PartitionReaderFactory,
    changeCols: Seq[String]
) extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case t: ChangeTaggedPartition =>
      val inner = delegate.createReader(t.inner)
      if (changeCols.isEmpty) inner
      else new PartitionReader[InternalRow] {
        private val tail = new GenericInternalRow(changeCols.map {
          case "_change_type" => UTF8String.fromString(t.changeType): Any
          case "_change_version" => t.version: Any
        }.toArray)
        private val joined = new JoinedRow
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = joined(inner.get(), tail)
        override def close(): Unit = inner.close()
      }
    case other => delegate.createReader(other)
  }
}

