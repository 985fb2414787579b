package graft.io

import java.nio.file.Paths

import org.apache.spark.sql.{GraftManifestScan, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The graft table as a STREAMING SOURCE (`spark.readStream.table(...)`)
  * — the table-as-stream capability the reference inherits from
  * Iceberg/Delta: each micro-batch serves the files APPENDED between
  * two snapshot versions, so a downstream pipeline follows the table's
  * commit log with exactly-once progress tracked by the checkpointed
  * version offset. At 100 TB this is the CDC fan-out primitive: the
  * consumer's per-batch cost is O(files the producers committed since
  * the last batch), never a table rescan.
  *
  * Semantics mirror [[TableIO.readIncremental]] (the batch twin), and
  * so do the refusals — the stream is only sound over APPEND-ONLY
  * history:
  *  - a range containing a non-append commit (overwrite, COW DML,
  *    compaction) fails loudly: its rows cannot be expressed as a
  *    pure insert delta (restart the stream from a fresh checkpoint
  *    after such maintenance);
  *  - a range containing pending merge-on-read deletes fails loudly
  *    naming applyDeletes (a MOR commit changes no files, so the
  *    file diff would serve deleted rows as live);
  *  - an expired manifest in range fails loudly (history needed for
  *    the diff is gone).
  *
  * `option("startingVersion", v)` picks the baseline: the default 0
  * serves the table's full content as the first batch (Delta's
  * default); the CURRENT version at stream start makes it
  * new-commits-only.
  *
  * Maintenance tolerance — two opt-in relaxations of the append-only
  * rule, mirroring Iceberg/Delta so a long-lived consumer survives
  * table upkeep instead of restarting from a fresh checkpoint:
  *  - `option("skipRewriteCommits", true)` (Iceberg's
  *    `streaming-skip-overwrite-snapshots`): a file-removing commit
  *    PROVEN content-preserving — it carries the `graft.op = rewrite`
  *    manifest prop that compact / compactSorted / compactZOrder /
  *    respecTable / applyDeletes stamp — is skipped: its rewritten
  *    files hold only rows already served from their original append
  *    commits, so serving nothing from it is exactly once. A removal
  *    WITHOUT the marker (overwrite, COW DML, rollback, a fast-forward
  *    integrating a compacted branch) is a data change and still
  *    refuses. Skipped originals stay readable on disk until snapshot
  *    expiry + GC — a consumer lagging past retention fails at read
  *    time, same as Iceberg.
  *  - `option("skipChangeCommits", true)` (Delta's option of the same
  *    name): ANY file-removing commit is skipped and pending
  *    merge-on-read deletes in range are tolerated — the consumer
  *    receives rows as of their APPEND and never sees later updates or
  *    deletes of those rows. Only sound when downstream tolerates
  *    stale rows (e.g. append-only feature logs); hence separate from
  *    and strictly weaker than `skipRewriteCommits`.
  */
/** Shape rules and option parsing shared by the table stream and the
  * changelog stream.
  */
private[io] object StreamShape {

  /** Does `file` carry column VALUES in a Hive-style `k=v` directory
    * under the table's data root? Only segments BELOW the data root
    * count — a warehouse living under an ancestor dir named `run=5`
    * must not flag every table. Hidden-layout `gp_*` dirs are fine
    * (their values derive from source columns the footers carry);
    * anything else means the file's rows are incomplete without
    * directory recovery, which the fixed streaming row shape cannot
    * do — serving it raw would emit NULLs for that column.
    */
  def hiveDirFile(dataRoot: java.nio.file.Path, file: String): Boolean = {
    val p = java.nio.file.Paths.get(file).toAbsolutePath.normalize
    if (!p.startsWith(dataRoot)) false
    else {
      // DIRECTORY segments only: the final segment is the file NAME,
      // and a basename containing '=' carries no partition value
      val rel = dataRoot.relativize(p)
      val it = rel.iterator()
      var found = false
      var i = 0
      val dirCount = rel.getNameCount - 1
      while (it.hasNext && !found && i < dirCount) {
        val s = it.next().toString
        found = s.contains('=') && !s.startsWith(PartitionTransforms.Prefix)
        i += 1
      }
      found
    }
  }

  /** Validated start offset: `startingVersion` (non-negative, within
    * the table's history) or `startingTimestamp` (epoch-millis, ISO
    * instant, or `yyyy-mm-dd hh:mm:ss` — serves every commit at or
    * after it, Delta's semantics), mutually exclusive, errors naming
    * the option. Default 0 (full history as the first batch).
    */
  def startingVersion(label: String, tableName: String, cat: TableCatalog,
                      options: CaseInsensitiveStringMap): Int = {
    val byVersion = Option(options.get("startingVersion"))
    val byTs = Option(options.get("startingTimestamp"))
    if (byVersion.isDefined && byTs.isDefined) throw new IllegalArgumentException(
      s"$label over $tableName: options startingVersion and startingTimestamp " +
        "are mutually exclusive")
    byVersion.map { raw =>
      val v = raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$label over $tableName: option startingVersion must be a " +
          s"non-negative integer, got '$raw'"))
      val cur = cat.currentVersion(tableName).getOrElse(0)
      if (v < 0 || v > cur) throw new IllegalArgumentException(
        s"$label over $tableName: option startingVersion = $v is outside " +
          s"the table's history [0, $cur]")
      v
    }.orElse(byTs.map { raw =>
      val tsMs = parseTimestamp(label, tableName, "startingTimestamp", raw)
      // serve commits AT OR AFTER the instant: the offset is the
      // newest version strictly BEFORE it (batches serve (offset, ...])
      cat.versionAsOf(tableName, tsMs - 1).getOrElse(0)
    }).getOrElse(0)
  }

  /** A strictly-positive integer option, absent -> None, anything
    * else -> an error naming the option.
    */
  def positiveIntOption(label: String, tableName: String,
                        options: CaseInsensitiveStringMap, key: String): Option[Int] =
    Option(options.get(key)).map { raw =>
      raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$label over $tableName: option $key must be a positive integer, got '$raw'"))
    }

  /** A strictly-positive LONG option (byte budgets exceed Int). */
  def positiveLongOption(label: String, tableName: String,
                         options: CaseInsensitiveStringMap, key: String): Option[Long] =
    Option(options.get(key)).map { raw =>
      raw.trim.toLongOption.filter(_ >= 1L).getOrElse(throw new IllegalArgumentException(
        s"$label over $tableName: option $key must be a positive integer, got '$raw'"))
    }

  /** On-disk size of a data file for byte-budget admission; a missing
    * file (expired manifest) counts 0 here — the batch planner raises
    * the loud refusal, the cap walk must not stall the stream first.
    */
  def fileSize(f: String): Long =
    try java.nio.file.Files.size(java.nio.file.Paths.get(f))
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** Epoch-millis, ISO instant, or `yyyy-mm-dd hh:mm:ss` — the one
    * timestamp-literal rule every timestamp-bounded option shares.
    */
  def parseTimestamp(label: String, tableName: String, key: String, raw: String): Long = {
    val s = raw.trim
    s.toLongOption
      .orElse(scala.util.Try(java.time.Instant.parse(s).toEpochMilli).toOption)
      .orElse(scala.util.Try(java.sql.Timestamp.valueOf(s).getTime).toOption)
      .getOrElse(throw new IllegalArgumentException(
        s"$label over $tableName: option $key must be epoch-millis, " +
          s"an ISO instant, or 'yyyy-mm-dd hh:mm:ss', got '$raw'"))
  }
}

private[io] class GraftMicroBatchStream(
    tableName: String,
    cat: TableCatalog,
    physSchema: StructType,
    options: CaseInsensitiveStringMap
) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private case class V(v: Int) extends Offset {
    override def json(): String = v.toString
  }

  private val startV: Int =
    StreamShape.startingVersion("table stream", tableName, cat, options)

  private val skipRewrites: Boolean =
    options.getBoolean("skipRewriteCommits", false)
  private val skipChanges: Boolean =
    options.getBoolean("skipChangeCommits", false)

  // ---- admission control (Delta's maxFilesPerTrigger / Iceberg's
  // max-files-per-micro-batch): a stream starting deep in a long
  // history must NOT drain everything into one micro-batch — one
  // giant batch means one giant checkpoint interval (no progress
  // survives a mid-drain crash) and an executor-memory-sized state
  // spike downstream. The caps bound each batch; exactly-once is
  // untouched because progress is still the checkpointed version.
  private val maxVersions: Option[Int] =
    StreamShape.positiveIntOption("table stream", tableName, options, "maxVersionsPerBatch")
  private val maxFiles: Option[Int] =
    StreamShape.positiveIntOption("table stream", tableName, options, "maxFilesPerBatch")
  // the third Delta/Iceberg rate knob (maxBytesPerTrigger /
  // max-bytes-per-micro-batch): file counts don't bound batch COST
  // when file sizes vary 1000x — a byte budget does
  private val maxBytes: Option[Long] =
    StreamShape.positiveLongOption("table stream", tableName, options, "maxBytesPerBatch")

  // Trigger.AvailableNow: pin the drain target at stream start, then
  // run capped batches until the checkpointed offset reaches it —
  // without this trait Spark falls back to one single uncapped batch
  // (and warns); with it, caps + AvailableNow compose into a bounded
  // catch-up that terminates even while writers keep committing.
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(cat.currentVersion(tableName).getOrElse(0))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[V].v
    val target = availableNowTarget
      .getOrElse(cat.currentVersion(tableName).getOrElse(0))
    var e = target
    maxVersions.foreach(mv => e = math.min(e, s + mv))
    if (maxFiles.nonEmpty || maxBytes.nonEmpty) {
      // metadata-only forward walk: stop BEFORE the version that would
      // push the batch past a cap (files or bytes), but always admit
      // at least one version (a single commit larger than the cap must
      // still flow). Served-file counting mirrors planInputPartitions:
      // a file-removing commit serves nothing under the skip flags, so
      // it is free here; if it would REFUSE (or its manifest is
      // expired), admit it and let planInputPartitions raise the loud
      // error rather than stalling the stream silently at the cap walk.
      try {
        var prev: Set[String] =
          (if (s == 0) Seq.empty else cat.manifest(tableName, s)).toSet
        var files = 0
        var bytes = 0L
        var chosen = s
        var v = s + 1
        var stop = false
        while (v <= e && !stop) {
          val cur = cat.manifest(tableName, v).toSet
          val addedHere = if (prev.diff(cur).isEmpty) cur.diff(prev) else Set.empty[String]
          val bytesHere = if (maxBytes.isEmpty) 0L else addedHere.iterator.map(StreamShape.fileSize).sum
          val over = maxFiles.exists(mf => files + addedHere.size > mf) ||
            maxBytes.exists(mb => bytes + bytesHere > mb)
          if (chosen > s && over) stop = true
          else {
            files += addedHere.size
            bytes += bytesHere
            chosen = v
            prev = cur
            v += 1
          }
        }
        e = chosen
      } catch {
        case _: java.nio.file.NoSuchFileException => () // planInputPartitions refuses loudly
      }
    }
    V(math.max(e, s))
  }

  override def reportLatestOffset(): Offset =
    V(cat.currentVersion(tableName).getOrElse(0))

  override def initialOffset(): Offset = V(startV)
  override def latestOffset(): Offset = V(cat.currentVersion(tableName).getOrElse(0))
  override def deserializeOffset(json: String): Offset = V(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // the factory belongs to the batch planned LAST — micro-batch
  // planning is single-threaded per stream (plan, then factory)
  @volatile private var batchFactory: PartitionReaderFactory = EmptyReaderFactory

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[V].v
    val e = end.asInstanceOf[V].v
    if (e <= s) { batchFactory = EmptyReaderFactory; return Array.empty }
    def manifestOrReject(v: Int): Seq[String] =
      if (v == 0) Seq.empty
      else
        try cat.manifest(tableName, v)
        catch {
          case _: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"table stream over $tableName: snapshot $v in range [$s, $e] is expired — " +
              "the commit log needed for the delta is gone; restart the stream")
        }
    if (!skipChanges) (math.max(s, 1) to e).foreach { v =>
      if (cat.pendingDeletes(tableName, v).nonEmpty)
        throw new IllegalStateException(
          s"table stream over $tableName: snapshot $v carries pending merge-on-read " +
            "deletes — a MOR commit changes no files, so the file diff would serve " +
            "deleted rows as live. Run applyDeletes and restart the stream from the " +
            "applied snapshot (startingVersion), or opt into append-as-of semantics " +
            "with skipChangeCommits")
    }
    // Per-commit walk, not an end-to-start diff: a file appended at
    // v1 and compacted away at v2 must still be served (from v1) when
    // v2 is skippable — the original file outlives the rewrite on disk
    // until snapshot expiry + GC. Under strict append-only history the
    // per-commit union equals the cumulative diff exactly.
    var prev = manifestOrReject(s).toSet
    val served = Vector.newBuilder[String]
    ((s + 1) to e).foreach { v =>
      val cur = manifestOrReject(v).toSet
      val removed = prev.diff(cur)
      if (removed.isEmpty) served ++= cur.diff(prev)
      else if (skipChanges) () // append-as-of: changes invisible by contract
      else if (skipRewrites) {
        val op =
          try cat.manifestProps(tableName, v).get(TableCatalog.OpProp)
          catch { case scala.util.control.NonFatal(_) => None }
        if (!op.contains(TableCatalog.OpRewrite)) throw new IllegalStateException(
          s"table stream over $tableName: snapshot $v removed ${removed.size} file(s) " +
            s"and is not a content-preserving rewrite (graft.op = ${op.getOrElse("absent")}) " +
            "— an overwrite, row-level DML, rollback, or pre-marker maintenance commit " +
            "changed rows. skipRewriteCommits only rides through marked rewrites " +
            "(compact/compactSorted/compactZOrder/respecTable/applyDeletes); restart " +
            "the stream with a fresh checkpoint at or after this snapshot, or opt into " +
            "append-as-of semantics with skipChangeCommits")
        // marked rewrite: its added files re-pack rows already served
        // from their original append commits — serve nothing
      }
      else throw new IllegalStateException(
        s"table stream over $tableName requires append-only history: snapshot $v " +
          s"removed ${removed.size} file(s) (overwrite, row-level DML, or compaction). " +
          "Restart the stream with a fresh checkpoint (startingVersion at or after the " +
          "rewrite), or ride through content-preserving maintenance with " +
          "skipRewriteCommits — its rows are not expressible as an insert delta")
      prev = cur
    }
    val added = served.result().distinct.sorted
    if (added.isEmpty) { batchFactory = EmptyReaderFactory; return Array.empty }
    // loadTable's eligibility gate sees the CURRENT layout only — a
    // table respec'd from identity (Hive-dir) partitioning to a hidden
    // spec passes it, but its PRE-RESPEC files carry the identity
    // column's values in directory names, not footers. Serving those
    // raw would emit NULLs for that column: refuse loudly instead.
    val dataRoot = Paths.get(cat.dataPath(tableName)).toAbsolutePath.normalize
    added.find(StreamShape.hiveDirFile(dataRoot, _)).foreach { f =>
      throw new IllegalStateException(
        s"table stream over $tableName: file $f in range [$s, $e] carries column " +
          "values in Hive-style directory names (a pre-respec identity layout) — " +
          "its rows cannot ride the fixed streaming row shape. Start the stream at " +
          "or after the respec rewrite (startingVersion), or compact() first")
    }
    // a plain parquet batch over exactly the added files, pinned to
    // the stream's schema (no inference: the manifest may be long
    // gone by restart time, but the schema rides the checkpoint).
    // NO basePath: with it, a batch mixing layout generations (a
    // root-level file appended before respecTable plus a gp_* file
    // after) silently DROPS the root file's rows — Spark's partition
    // discovery anchored at basePath keeps only files that parse
    // partition values. Without it, explicit-leaf-file listing reads
    // every file; any inferred gp_* dirs are pruned below and their
    // values already ride the footers (hidden-layout columns are
    // derived; Hive-dir tables never reach here — batch-only)
    val scanTable = GraftManifestScan.table(s"$tableName#stream@v$e",
      SparkSession.active, Map.empty, added, Some(physSchema))
    val sb = scanTable.newScanBuilder(CaseInsensitiveStringMap.empty())
    // prune to exactly the stream's schema: hidden gp_* layout dirs
    // would otherwise be inferred as partition columns and APPENDED,
    // breaking the fixed streaming row shape (their values derive from
    // source columns the footers already carry)
    sb match {
      case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        p.pruneColumns(physSchema)
      case _ => ()
    }
    val batch = sb.build().toBatch
    batchFactory = batch.createReaderFactory()
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = batchFactory

  private object EmptyReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
      throw new IllegalStateException("empty micro-batch planned no partitions")
  }
}

/** Mixin giving a graft Scan the streaming-source half — batch
  * delegation stays with the implementor. `None` = this scan shape
  * cannot stream (refuse loudly, never a generic default).
  */
private[io] trait GraftStreamableScan extends Scan {
  def streamSource: Option[(TableCatalog, String, StructType, CaseInsensitiveStringMap)]
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    streamSource match {
      case Some((cat, t, sch, opts)) => new GraftMicroBatchStream(t, cat, sch, opts)
      case None => throw new UnsupportedOperationException(
        "this graft scan shape cannot serve a stream (renamed-column, Hive-dir-" +
          "partitioned, and dirty merge-on-read tables are batch-only sources; " +
          "hidden-layout partitioning streams fine)")
    }
}

/** What a scan needs to RUNTIME-skip whole files (DSv2 dynamic
  * pruning): the planned file list, the table's file scope, and the
  * columns worth advertising —
  * hidden-transform SOURCE columns (path arithmetic skips, no I/O)
  * and bloom-indexed columns (point-lookup skips range stats can't
  * make). Plain range stats on arbitrary columns are deliberately NOT
  * advertised: overlapping ranges skip nothing, and advertising every
  * column would invite runtime filters that only cost plan overhead.
  */
private[io] final case class RuntimeFileSkip(
    files: Seq[String],
    scope: FileScope,
    attrs: Seq[String])

/** Observability for specs and plan audits: per-scan (kept, total)
  * file counts of runtime-filter evaluations, read from the EXECUTED
  * plan's own scan instances — never a JVM global, so concurrent graft
  * queries can't clobber each other's observation.
  */
private[graft] object RuntimeSkipProbe {
  /** The (kept, total) of every graft scan in `df`'s executed plan
    * that received a runtime filter. Call AFTER materializing `df`
    * (runtime filters fire during execution); unwraps AQE stages.
    */
  def ofExecuted(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int)] = {
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Seq[(Int, Int)] = {
      val here = p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case s: StreamableParquetScan => s.lastRuntimeSkip.toSeq
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}

/** A plain graft scan with the streaming half attached — batch
  * planning (schema, partitions, stats, explain description) forwards
  * untouched to the pruned parquet scan.
  *
  * Runtime filtering (Spark's DSv2 dynamic partition pruning): when
  * the table has a hidden layout or bloom indexes, the scan advertises
  * those SOURCE columns, and a join against a filtered dimension
  * injects the build side's key set at execution time —
  * [[filter]] then drops whole files via the same metadata the
  * plan-time skip uses (manifest stats + blooms + partition-dir
  * arithmetic), and [[toBatch]] re-plans over the survivors. The star
  * join every warehouse runs — fact ⋈ filtered dim — scans only the
  * fact files that can hold the dim's surviving keys.
  */
private[io] class StreamableParquetScan(
    inner: Scan,
    val streamSource: Option[(TableCatalog, String, StructType, CaseInsensitiveStringMap)],
    runtime: Option[RuntimeFileSkip] = None
) extends Scan with GraftStreamableScan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()

  // normalized-path keep set after a runtime filter; None = keep all.
  // Read at planInputPartitions time (Spark calls filter() between
  // toBatch and the re-plan), so it must be live state, not captured.
  @volatile private var runtimeKeep: Option[Set[String]] = None
  // observability for specs/plan audits: files kept / files planned
  @volatile var lastRuntimeSkip: Option[(Int, Int)] = None

  private def normalize(f: String): String =
    java.nio.file.Paths.get(f).toAbsolutePath.normalize.toString

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      private val base = inner.toBatch
      override def planInputPartitions(): Array[InputPartition] = {
        val parts = base.planInputPartitions()
        runtimeKeep match {
          case None => parts
          case Some(keep) =>
            val filtered = parts.flatMap {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                val fs = fp.files.filter(pf =>
                  keep(normalize(pf.filePath.toUri.getPath)))
                if (fs.isEmpty) None
                else if (fs.length == fp.files.length) Some(fp)
                else Some(fp.copy(files = fs))
              case other => Some(other) // unknown partition shape: keep, never wrong
            }
            filtered.zipWithIndex.map {
              case (fp: org.apache.spark.sql.execution.datasources.FilePartition, i) =>
                fp.copy(index = i)
              case (o, _) => o
            }
        }
      }
      override def createReaderFactory(): PartitionReaderFactory =
        base.createReaderFactory()
    }

  // our metadata-skip attributes, plus whatever the inner file scan
  // exposed (wrapping must not silently disable it)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val innerAttrs = inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering => f.filterAttributes()
      case _ => Array.empty[org.apache.spark.sql.connector.expressions.NamedReference]
    }
    val ours = runtime.toSeq.flatMap(_.attrs).map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
    (innerAttrs ++ ours).distinct
  }

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtime.foreach { r =>
      // the file scope is total: a failed skip evaluation keeps the file
      val keep = r.files.filter(r.scope.mightMatch(_, filters.toSeq))
      lastRuntimeSkip = Some((keep.size, r.files.size))
      runtimeKeep = Some(keep.map(normalize).toSet)
    }
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering => f.filter(filters)
      case _ => ()
    }
  }
  /** Size from the inner file scan (bytes on disk × compression
    * heuristics), rows EXACT from the manifest-persisted per-file
    * rowCounts when every planned file has them — an upper bound once
    * residual filters apply, which is what a planner estimate is. A
    * correct row count is what lets the broadcast-join threshold fire
    * on a small-but-wide dimension that byte-size heuristics misjudge.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val innerStats = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    val manifestRows: Option[Long] = runtime.flatMap { r =>
      try {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        val counts = r.files.map(f =>
          FileStats.cached(f, conf).values.headOption.map(_.rowCount))
        if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        innerStats.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        manifestRows.map(java.util.OptionalLong.of)
          .orElse(innerStats.map(_.numRows()))
          .getOrElse(java.util.OptionalLong.empty())
    }
  }
}
