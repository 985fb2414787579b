package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.annotation.{JsonDeserialize, JsonSerialize}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Path-based table catalog: name -> directory under a warehouse root.
  * Replaces the reference's Iceberg Hadoop catalog
  * (reference: IngestionJob.scala:16-19).
  *
  * Layout per table:
  *   <warehouse>/<ns>/<table>/data/...        parquet data files
  *                           /_graft_meta/vN.json   snapshot manifests
  *
  * Like Iceberg, the DIRECTORY CONTENTS do not define the table — the
  * latest manifest does. A manifest lists the data files belonging to
  * that snapshot, so overwrites are logical (a new manifest referencing
  * only the new files) and old snapshots stay readable: `readVersion`
  * gives the reference's `VERSION AS OF` semantics (reference:
  * README.md:143-154) without an Iceberg runtime. Names may be
  * qualified ("default.nyc_taxi_fact"); the namespace becomes a
  * subdirectory.
  *
  * Every metadata document (manifests, meta.json, tags.json) is a
  * Jackson-bound record coded through [[Codec]], so arbitrary file
  * paths round-trip. Paths are stored relative to the table directory
  * so a table rename (directory move) keeps every snapshot readable. Maintenance mirrors Iceberg's: `expireSnapshots`
  * bounds manifest history and `removeOrphanFiles` reclaims data files
  * no remaining snapshot references — without it physical files
  * accumulate forever (overwrite never deletes), which at scale kills
  * listing and planning.
  *
  * Concurrency: manifest commit is a tmp-file + atomic hard-link, so
  * readers never observe a torn manifest AND a second writer racing to
  * the same version number fails loudly with
  * `ConcurrentCommitException` instead of silently winning last
  * (optimistic concurrency on the version file, as in Iceberg's
  * HadoopTableOperations). On top of that primitive, ONE optimistic
  * loop (`commitLoop`) retries the race for every writer that can,
  * each by its own rebase rule, and same-JVM writers to one table
  * serialize over the write->commit section; a blind overwrite
  * commits at the head it reads at commit time — see `TableIO.write`.
  */
final case class TableCatalog(warehouse: String) {
  def pathOf(name: String): String = {
    val parts = name.split('.')
    (warehouse +: parts).mkString("/")
  }
  def dataPath(name: String): String = s"${pathOf(name)}/data"
  def metaPath(name: String): Path = Paths.get(pathOf(name), "_graft_meta")

  def tableExists(name: String): Boolean = currentVersion(name).isDefined

  /** Manifest of `version` on `ref`'s chain. */
  private[io] def manifestFile(name: String, version: Int, ref: Ref = Ref.Main): Path =
    metaPath(name).resolve(ref.fileName(version))

  /** Snapshot version numbers of `ref`'s chain, ascending. */
  def versions(name: String, ref: Ref = Ref.Main): Seq[Int] = {
    val meta = metaPath(name)
    if (!Files.isDirectory(meta)) Seq.empty
    else
      Using.resource(Files.list(meta)) { s =>
        s.iterator().asScala.flatMap(p => ref.versionOf(p.getFileName.toString)).toSeq
      }.sorted
  }

  def currentVersion(name: String, ref: Ref = Ref.Main): Option[Int] =
    versions(name, ref).lastOption

  /** The head of `ref`, or the chain's "does not exist" error. */
  private[io] def head(name: String, ref: Ref = Ref.Main): Int =
    currentVersion(name, ref).getOrElse(throw new IllegalArgumentException(ref.missing(name)))

  private def tableRoot(name: String): Path =
    Paths.get(pathOf(name)).toAbsolutePath.normalize

  /** Data files (absolute paths) in snapshot `version`. Manifests store
    * paths RELATIVE to the table directory (resolved here), so moving
    * the directory — `renameTable`, a warehouse relocation, a backup
    * restore — never invalidates a snapshot. Absolute entries (written
    * by pre-rename-fix manifests) still resolve as-is.
    */
  def manifest(name: String, version: Int, ref: Ref = Ref.Main): Seq[String] =
    snapshot(name, version, ref).files

  /** Manifest `version` of `ref`'s chain, decoded once: the file list,
    * props and stats accessors below are views over it.
    */
  private[io] def snapshot(name: String, version: Int, ref: Ref = Ref.Main): Codec.Manifest =
    manifestAt(name, manifestFile(name, version, ref))

  /** Any manifest document (version, branch or staged), with its
    * paths resolved against the table root (stored relative).
    */
  private def manifestAt(name: String, f: Path): Codec.Manifest = {
    val doc = Codec.read[Codec.Manifest](f)
    val base = tableRoot(name)
    doc.copy(files = doc.files.map(p => if (Paths.get(p).isAbsolute) p else base.resolve(p).toString))
  }

  def commitSnapshot(name: String, files: Seq[String],
                     props: Map[String, String] = Map.empty,
                     stats: Map[String, Map[String, FileStats.ColStats]] = Map.empty,
                     ref: Ref = Ref.Main): Int =
    commitSnapshotAt(name, files, currentVersion(name, ref).getOrElse(0) + 1, props, stats, ref)

  /** Per-file column stats persisted WITH the snapshot at commit time
    * (Iceberg's manifest stats): keyed by resolved file path. Absent
    * for pre-stats manifests and for columns whose types the encoder
    * skips — consumers fall back to a footer read, never a wrong
    * prune. At 100 TB this is what keeps planning O(manifest), not
    * O(files) footer fetches.
    */
  def manifestStats(name: String, version: Int, ref: Ref = Ref.Main)
      : Map[String, Map[String, FileStats.ColStats]] =
    snapshot(name, version, ref).statsByFile

  /** [[manifestStats]], degrading to no stats when the manifest is
    * unreadable — consumers fall back to a footer read, never a wrong
    * prune.
    */
  private[io] def statsOrEmpty(name: String, version: Int, ref: Ref = Ref.Main)
      : Map[String, Map[String, FileStats.ColStats]] =
    try manifestStats(name, version, ref)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Stats map for a commit that keeps `kept` files and adds
    * `newFiles`: kept files carry their stats forward from `ref`'s
    * head manifest (no footer re-read), new files are footer-read once —
    * they are hot in the page cache right after the write. Any failure
    * degrades to "no stats for that file" (consumers fall back to a
    * plan-time footer read — conservative, never wrong). Shared by
    * TableIO writes and the DSv2 row-level-DML commit so DELETE /
    * UPDATE / MERGE manifests keep plan-time pruning O(manifest) too.
    */
  def statsForCommit(name: String, kept: Seq[String], newFiles: Seq[String],
                     conf: org.apache.hadoop.conf.Configuration, ref: Ref = Ref.Main)
      : Map[String, Map[String, FileStats.ColStats]] = {
    val prev =
      if (kept.isEmpty) Map.empty[String, Map[String, FileStats.ColStats]]
      else currentVersion(name, ref).map(statsOrEmpty(name, _, ref)).getOrElse(Map.empty)
    val carried = kept.flatMap(f => prev.get(f).map(f -> _))
    // footer reads are independent per file and IO-bound — read them
    // CONCURRENTLY instead of serially on the driver (guide §7.3: a
    // 32-file commit paid 32 sequential footer opens, the dominant
    // driver-gap cost of small commits; at large file counts this is
    // the difference between O(files) and O(files / pool) wall time)
    val fresh = newFiles.asJava.parallelStream()
      .map[Option[(String, Map[String, FileStats.ColStats])]] { f =>
        try Some(f -> FileStats.read(f, conf))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      .collect(java.util.stream.Collectors.toList[Option[(String, Map[String, FileStats.ColStats])]])
      .asScala.flatten
    (carried ++ fresh).toMap
  }

  /** Snapshot properties committed WITH the manifest (same atomic
    * hard-link), e.g. the streaming sink's batch-id high-water mark —
    * a state change that must be indivisible from the snapshot it
    * describes rides inside the manifest, never in a second file.
    */
  def manifestProps(name: String, version: Int, ref: Ref = Ref.Main): Map[String, String] =
    snapshot(name, version, ref).props

  /** PENDING merge-on-read position deletes of snapshot `version`,
    * paths resolved absolute against the table root. Empty = clean
    * snapshot (the normal state; `TableIO.applyDeletes` restores it).
    */
  def pendingDeletes(name: String, version: Int, ref: Ref = Ref.Main)
      : Seq[TableCatalog.DeleteEntry] = {
    val props =
      try manifestProps(name, version, ref)
      catch { case _: java.nio.file.NoSuchFileException => Map.empty[String, String] }
    props.get(TableCatalog.DeletesProp).map { v =>
      val base = tableRoot(name)
      def abs(p: String): String =
        if (Paths.get(p).isAbsolute) p else base.resolve(p).toString
      TableCatalog.decodeDeletes(v).map(e =>
        e.copy(deleteFile = abs(e.deleteFile), dirtyFiles = e.dirtyFiles.map(abs)))
    }.getOrElse(Seq.empty)
  }

  /** The raw deletes prop of `version` as a carryable props map —
    * for commits that keep the version's data files (append, rollback)
    * and therefore MUST keep its pending deletes attached, or deleted
    * rows would silently resurrect.
    */
  private[io] def deletesCarry(name: String, version: Int, ref: Ref = Ref.Main): Map[String, String] =
    TableCatalog.deletesCarry(
      try manifestProps(name, version, ref)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] })

  /** Manifest document for a (deduped) file list + props + stats —
    * shared by version commits and STAGED (write-audit-publish)
    * manifests, so both speak the identical format.
    */
  private def manifestJson(name: String, files: Seq[String],
                           props: Map[String, String],
                           stats: Map[String, Map[String, FileStats.ColStats]]): Array[Byte] = {
    val base = tableRoot(name)
    val abs = files.map(f => Paths.get(f).toAbsolutePath.normalize)
    val stored = abs.zip(files).map { case (p, f) =>
      if (p.startsWith(base)) base.relativize(p).toString else f
    }
    // stats align with the files array by position (paths are stored
    // relative; the position is stable either way)
    val byPath = stats.map { case (f, cols) => Paths.get(f).toAbsolutePath.normalize -> cols }
    val colstats = abs.map(p => byPath.get(p).fold(Map.empty[String, Codec.StatRecord])(Codec.StatRecord.of))
    Codec.encode(Codec.Manifest(stored, props, if (colstats.exists(_.nonEmpty)) colstats else Seq.empty))
  }

  /** Commit at a WRITER-COMPUTED version of `ref`'s chain — the
    * optimistic-concurrency primitive: two writers that both read
    * version N race to create manifest N+1; exactly one wins, the other
    * gets `ConcurrentCommitException` (package-visible so the conflict
    * path is deterministically testable). A branch commit re-asserts
    * the fork-base prop of the version it builds on unless it names
    * one itself (the fork and rebase records do): fast-forward's
    * divergence check reads it off the head.
    */
  private[graft] def commitSnapshotAt(name: String, filesIn: Seq[String], v: Int,
                                      props: Map[String, String] = Map.empty,
                                      stats: Map[String, Map[String, FileStats.ColStats]] = Map.empty,
                                      ref: Ref = Ref.Main): Int = {
    val fullProps = ref match {
      case b: Ref.Branch =>
        b.validate()
        if (props.contains(TableCatalog.BranchBaseProp)) props
        else props + (TableCatalog.BranchBaseProp -> branchBaseOf(name, b, v - 1))
      case Ref.Main => props
    }
    // a manifest is a SET: a path listed twice would be scanned twice
    // (duplicated rows) — possible when an optimistic retry re-bases on
    // a manifest that already absorbed this writer's files
    val files = filesIn.distinct
    val json = Timers.time("commit.manifestJson")(manifestJson(name, files, fullProps, stats))
    if (!Codec.createExclusive(manifestFile(name, v, ref), json))
      throw new ConcurrentCommitException(
        s"concurrent commit to ${ref.describe(name)}: version $v already exists (another writer won)")
    v
  }

  /** THE optimistic commit loop (Iceberg's retry with revalidation) —
    * the only place a commit retries. Each attempt hands `ref`'s head
    * to the writer's `rule`, which answers what to commit on top of it
    * (None: nothing to commit, the head is returned) or throws to
    * refuse; the answer commits PINNED at head + 1 with `props` riding
    * along. A lost race re-reads the head and asks again — the rule
    * then also gets the conflict, so a first attempt can skip the
    * revalidation a rebase needs — at most
    * [[TableCatalog.MaxCommitRetries]] times: livelock surfaces as the
    * conflict, never a spin.
    *
    * The first attempt builds on `head0` when the writer planned
    * against a version it read itself, else on the head read here.
    * Exactly-once replay guard: a head read here may already hold THIS
    * stream batch, committed by a recovered query instance (Structured
    * Streaming replays at-least-once). So when `props` carry a
    * `streamBatchId*` mark, that key's mark on `ref` is checked first,
    * and a mark at or past this batch returns the head without
    * committing. A pinned `head0` needs no check: a replay landing
    * after it loses this loop the race. A commit without a mark never
    * walks the chain for one.
    */
  private[io] def commitLoop(name: String, ref: Ref, props: Map[String, String],
                             head0: Option[Int] = None)
                            (rule: (Int, Option[ConcurrentCommitException]) => Option[TableCatalog.Commit])
      : Int = {
    val mark = props.collectFirst {
      case (k, v) if k.startsWith(TableCatalog.StreamBatchProp) && v.toLongOption.isDefined =>
        (k, v.toLong)
    }
    var pinned = head0
    var lost = Option.empty[ConcurrentCommitException]
    var retries = 0
    while (true) {
      val head = pinned.getOrElse {
        if (mark.exists { case (k, id) => streamBatchMark(name, k, ref).exists(_ >= id) })
          return currentVersion(name, ref).getOrElse(0)
        currentVersion(name, ref).getOrElse(0)
      }
      rule(head, lost) match {
        case None => return head
        case Some(c) =>
          try return commitSnapshotAt(name, c.files, head + 1, c.props ++ props, c.stats, ref)
          catch {
            case e: ConcurrentCommitException =>
              retries += 1
              if (retries > TableCatalog.MaxCommitRetries) throw e
              lost = Some(e)
              pinned = None
          }
      }
    }
    -1 // unreachable
  }

  /** The fork-base prop of branch version `v` — carried forward by
    * every branch commit so the chain never disagrees about its fork
    * point.
    */
  private def branchBaseOf(name: String, b: Ref.Branch, v: Int): String =
    try manifestProps(name, v, b).getOrElse(TableCatalog.BranchBaseProp, "0")
    catch { case scala.util.control.NonFatal(_) => "0" }

  /** See [[TableCatalog.TableMeta]]. */
  type TableMeta = TableCatalog.TableMeta
  val TableMeta: TableCatalog.TableMeta.type = TableCatalog.TableMeta

  /** Scoped per-thread meta cache: one logical write reads table meta
    * several times on the driver thread (write order, renames ×2,
    * layout spec) — harmless against a local meta.json, but against a
    * remote catalog each read is an RPC, and at a 100 TB table's
    * commit rate four round-trips per commit is three too many.
    * `cachedMeta(body)` memoizes readMeta for the dynamic extent of
    * `body` on this thread; writeMeta refreshes the cached entry so a
    * scope that mutates meta (ALTER under lock) keeps reading its own
    * writes. Nested scopes reuse the outer cache. Only coherent while
    * the caller holds the table's write lock (no foreign writer can
    * change meta mid-scope), which is exactly where it is used.
    */
  private val metaCacheTL = new ThreadLocal[scala.collection.mutable.Map[String, TableMeta]]

  def cachedMeta[T](body: => T): T =
    if (metaCacheTL.get() != null) body
    else {
      metaCacheTL.set(scala.collection.mutable.Map.empty)
      try body finally metaCacheTL.remove()
    }

  def readMeta(name: String): TableMeta = {
    val c = metaCacheTL.get()
    if (c == null) readMetaUncached(name)
    else c.getOrElseUpdate(name, readMetaUncached(name))
  }

  private def readMetaUncached(name: String): TableMeta = {
    val f = metaPath(name).resolve("meta.json")
    if (!Files.isRegularFile(f)) readLegacyMeta(name)
    else Codec.read[TableMeta](f)
  }

  /** Pre-meta.json tables stored each field in its own sidecar
    * (schema.json raw, pcols.json/renames.json/dropped.json as
    * `{"cols"|"pairs": [...]}`). Read them when meta.json is absent so
    * an upgrade doesn't silently drop a table's declared schema,
    * rename map, or dropped-column guard; the next writeMeta migrates
    * the table to the single-file format.
    */
  private def readLegacyMeta(name: String): TableMeta = {
    val meta = metaPath(name)
    def sidecar(file: String): Option[Path] =
      Some(meta.resolve(file)).filter(Files.isRegularFile(_))
    def doc(file: String): Option[Codec.Sidecar] = sidecar(file).map(Codec.read[Codec.Sidecar](_))
    TableMeta(
      schemaJson = sidecar("schema.json").map(Files.readString),
      partitionCols = doc("pcols.json").map(_.cols),
      renames = doc("renames.json").fold(Seq.empty[String])(_.pairs)
        .grouped(2).collect { case Seq(l, p) => l -> p }.toMap,
      dropped = doc("dropped.json").fold(Seq.empty[String])(_.cols))
  }

  /** Single-file atomic metadata commit ([[Codec.replaceAtomic]]):
    * readers see the old document or the new one, never a mix.
    */
  def writeMeta(name: String, meta: TableMeta): Unit = {
    val dir = metaPath(name)
    Codec.replaceAtomic(dir.resolve("meta.json"),
      Codec.encode(meta.copy(dropped = meta.dropped.distinct.sorted)))
    // The commit migrated any legacy sidecars into meta.json; remove
    // them so a later loss of meta.json can't silently resurrect stale
    // metadata through readLegacyMeta. (stream_batch.txt stays: it is
    // the stream-mark fallback, not a meta field — readLegacyMeta never
    // reads it, and deleting it here would erase the replay guard of a
    // legacy streaming table that gets an ALTER before its stream's
    // next commit.)
    Seq("schema.json", "pcols.json", "renames.json", "dropped.json")
      .foreach(f => Files.deleteIfExists(dir.resolve(f)))
    // keep an active cachedMeta scope reading its own writes
    Option(metaCacheTL.get()).foreach(_.update(name, meta))
  }

  def tableSchemaJson(name: String): Option[String] = readMeta(name).schemaJson
  def tablePartitionCols(name: String): Option[Seq[String]] = readMeta(name).partitionCols
  def renames(name: String): Map[String, String] = readMeta(name).renames
  def droppedCols(name: String): Seq[String] = readMeta(name).dropped

  /** Streaming-sink batch-id high-water mark (exactly-once guard for
    * replayed micro-batches — see graft.streaming.TableSink): the
    * newest snapshot of `ref` carrying `propKey`. The key is the bare
    * legacy one for single-query tables, or a per-sink key
    * (`TableCatalog.streamBatchProp(sinkId)`): marks from a PREVIOUS
    * query incarnation (fresh checkpoint => batch ids restart at 0)
    * must not silently swallow the new query's batches. The mark is
    * INSIDE the manifest commit, so "rows appended" and "batch marked
    * done" are one atomic filesystem operation — there is no crash
    * window in which one happened without the other. Non-stream
    * commits interleave harmlessly (the scan walks past them to the
    * newest marked commit), and `expireSnapshots` never drops the
    * newest MARKED manifest per key, so maintenance interleaving can't
    * erase the guard either — keepLast >= 1 genuinely suffices. A
    * manifest expired between the version listing and its read is
    * skipped, not an error (expiry may run concurrently with a stream's
    * own commit). Tables last written by the pre-manifest-props layout
    * fall back to their `stream_batch.txt` sidecar.
    */
  def streamBatchMark(name: String, propKey: String = TableCatalog.StreamBatchProp,
                      ref: Ref = Ref.Main): Option[Long] =
    versions(name, ref).reverseIterator
      .flatMap { v =>
        try manifestProps(name, v, ref).get(propKey)
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      .flatMap(_.toLongOption)
      .nextOption()
      .orElse {
        // the legacy sidecar only ever marked main
        val legacy = metaPath(name).resolve("stream_batch.txt")
        if (ref == Ref.Main && propKey == TableCatalog.StreamBatchProp && Files.isRegularFile(legacy))
          Files.readString(legacy).trim.toLongOption
        else None
      }

  /** Snapshot tags (Iceberg refs): a named pointer to a version, so
    * "the corpus we trained run 47 on" survives every later commit and
    * GC cycle by NAME instead of by a version number someone wrote
    * down. Stored as one atomic document (`tags.json`, flat pair
    * array); a tagged version is retained by `expireSnapshots` and its
    * files stay live for `removeOrphanFiles` until the tag is removed
    * (Iceberg's ref-retention semantics). Re-tagging an existing name
    * repoints it.
    */
  def tags(name: String): Map[String, Int] = {
    val f = metaPath(name).resolve("tags.json")
    if (!Files.isRegularFile(f)) Map.empty
    else Codec.read[Codec.Tags](f).tags.map { case (t, v) => t -> v.toInt }
  }

  def tagSnapshot(name: String, tag: String, version: Int): Unit = {
    require(versions(name).contains(version),
      s"cannot tag $name@$tag: version $version does not exist")
    // an all-digit tag would be shadowed by version-number resolution
    // in SQL `VERSION AS OF '<tag>'` (numbers parse as versions first)
    // — reject it loudly instead of letting the two surfaces disagree
    require(tag.nonEmpty && !tag.forall(_.isDigit),
      s"tag names must not be purely numeric (ambiguous with version numbers): '$tag'")
    mutateTags(name)(_ + (tag -> version))
  }

  /** Remove a tag; the version becomes expirable again. */
  def removeTag(name: String, tag: String): Unit =
    mutateTags(name)(_ - tag)

  /** Tag mutations are a read-modify-write of the whole tags.json
    * document, so same-JVM concurrent taggers (or a tag racing
    * `expireSnapshots`' tags() read) would silently drop each other's
    * update last-writer-wins. Serialize them under the same per-table
    * write mutex the manifest commit uses. Cross-PROCESS tag races
    * remain last-writer-wins (documented; tags are advisory refs, not
    * commits — the manifest path is the loud one).
    */
  private def mutateTags(name: String)(f: Map[String, Int] => Map[String, Int]): Unit =
    locked(name)(writeTags(name, f(tags(name))))

  /** Run `body` under the table's same-JVM write lock (non-reentrant —
    * see [[TableIO.writeLock]]).
    */
  private[io] def locked[T](name: String)(body: => T): T = {
    val lock = TableIO.writeLock(pathOf(name))
    lock.acquire()
    try body finally lock.release()
  }

  private def writeTags(name: String, all: Map[String, Int]): Unit =
    Codec.replaceAtomic(metaPath(name).resolve("tags.json"),
      Codec.encode(Codec.Tags(all.map { case (t, v) => t -> v.toString })))

  // ---- Branches (Iceberg-style writable refs). A branch is its own
  // manifest CHAIN (`branch-<name>-v<k>.json`) sharing the table's
  // data directory: branch commits reference files main never lists,
  // main stays byte-identical until an explicit fast-forward. Unlike
  // a tag (one immutable pointer) or a staged snapshot (one
  // publish-or-discard manifest), a branch takes MANY commits before
  // integration — the audit-over-several-batches / experiment-corpus
  // workflow. Every chain operation above takes the branch as its
  // `ref`; branch manifests use the same exclusive hard-link commit as
  // versions, and GC (`removeOrphanFiles`) counts every branch
  // manifest's files as live.

  def listBranches(name: String): Seq[String] = {
    val meta = metaPath(name)
    if (!Files.isDirectory(meta)) Seq.empty
    else
      Using.resource(Files.list(meta)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .collect { case Ref.BranchFile(b, _) => b }
          .toSeq
      }.distinct.sorted
  }

  /** Main and every branch of the table. */
  def refs(name: String): Seq[Ref] = Ref.Main +: listBranches(name).map(Ref.Branch)

  /** Drop manifests of `ref` older than the newest `keepLast`; returns
    * the expired version numbers. The head is always kept, and so is
    * the newest manifest carrying each `streamBatchId*` mark key — it
    * is that sink's exactly-once replay guard, and non-stream commits
    * (appends, compaction, DML) landing after a stream's last batch
    * would otherwise push it over the edge: a post-crash replayed
    * micro-batch would then re-append its rows. Marks are per-sink keys
    * (`streamBatchId:<sinkId>` — several streaming queries may feed one
    * table or one ingest branch), so the newest marked manifest is kept
    * PER KEY. Data files are untouched — run `removeOrphanFiles`
    * afterwards to reclaim the bytes (Iceberg's expire_snapshots +
    * remove_orphan_files split); a retained marked manifest pins its
    * own files until its stream commits a newer batch.
    *
    * Main keeps its tagged versions — a tag is a promise that the
    * snapshot stays addressable by name; `removeTag` is its release. A
    * branch keeps its FORK RECORD (v1) for its lifetime: it carries
    * the fork id (stream-checkpoint identity) and is the changelog's
    * fork-baseline default, so expiring it would falsely refuse live
    * stream checkpoints as "re-forked".
    *
    * `releaseStreamMark = true` (main only) is the decommissioned-
    * stream escape hatch: without it the newest marked manifests (and,
    * via `removeOrphanFiles` liveness, their data files) are pinned
    * forever once a stream stops writing. Releasing FORFEITS the replay
    * guard — a later restart of that stream from an old checkpoint
    * would re-append its last batch — so only pass it for streams that
    * are genuinely retired. A branch is released by `dropBranch`.
    */
  def expireSnapshots(name: String, keepLast: Int,
                      releaseStreamMark: Boolean = false,
                      ref: Ref = Ref.Main): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    require(!releaseStreamMark || ref == Ref.Main,
      "releaseStreamMark is main-only: drop the branch to release its marks")
    // under the per-table write lock: the tags() read below must not
    // race a concurrent tagSnapshot (mutateTags holds the same lock) —
    // otherwise a just-written tag's snapshot could be expired from
    // under it, leaving the tag dangling
    locked(name) {
      // one listing: the pins and the expired set derive from the same
      // snapshot of the directory
      val vs = versions(name, ref)
      require(vs.nonEmpty || ref == Ref.Main, ref.missing(name))
      val newestPerKey = scala.collection.mutable.Map.empty[String, Int]
      if (!releaseStreamMark) vs.foreach { v =>
        val keys =
          try manifestProps(name, v, ref).keys.filter(_.startsWith(TableCatalog.StreamBatchProp))
          catch { case _: java.nio.file.NoSuchFileException => Iterable.empty[String] }
        keys.foreach(k => newestPerKey(k) = v) // ascending scan: last write wins
      }
      val retained = ref match {
        case Ref.Main => tags(name).values.toSet
        case _: Ref.Branch => Set(1)
      }
      val pinned = newestPerKey.values.toSet ++ retained
      val expired = vs.dropRight(keepLast).filterNot(pinned)
      expired.foreach(v => Files.deleteIfExists(manifestFile(name, v, ref)))
      expired
    }
  }

  /** First-write fork (Iceberg WAP semantics): when `ref` is a branch
    * that does not exist yet, create it at main's current snapshot —
    * branch v1 re-references main's file list (stats carried) and
    * records the forked-from main version ([[fastForward]]'s
    * divergence check) plus a fresh fork id. A no-op for main and for
    * an existing branch. LOCK-ASSUMED: the caller holds the per-table
    * write lock (it is a non-reentrant semaphore; the row-level-op
    * commit path holds it from toBatch through commit, and forks
    * there). A cross-process racer winning the exclusive v1 create is
    * absorbed — both see the same fork.
    */
  private[io] def forkLocked(name: String, ref: Ref): Unit = ref match {
    case Ref.Main => ()
    case b: Ref.Branch if currentVersion(name, b).isDefined => ()
    case b: Ref.Branch =>
      val base = currentVersion(name).getOrElse(0)
      // a fork carries no delete entries, so forking a dirty snapshot
      // would RESURRECT deleted rows on every branch read
      require(base == 0 || pendingDeletes(name, base).isEmpty,
        s"cannot branch $name: snapshot $base has pending position deletes — " +
          "run applyDeletes first")
      val snap = if (base == 0) Codec.Manifest() else snapshot(name, base)
      try commitSnapshotAt(name, snap.files, 1,
        Map(TableCatalog.BranchBaseProp -> base.toString,
          TableCatalog.BranchForkIdProp -> java.util.UUID.randomUUID().toString), snap.statsByFile, b)
      catch {
        case e: ConcurrentCommitException =>
          if (currentVersion(name, b).isEmpty) throw e
      }
      ()
  }

  /** Create `branch` at the table's current snapshot. Metadata-only —
    * see [[forkLocked]]. Returns the branch's first version.
    */
  def createBranch(name: String, branch: String): Int = locked(name) {
    val b = Ref.Branch(branch)
    require(currentVersion(name, b).isEmpty, s"branch $branch already exists on $name")
    forkLocked(name, b)
    head(name, b)
  }

  /** Fast-forward MAIN to the branch head (Iceberg's
    * `fast_forward('main', ...)`): a new main version referencing
    * exactly the branch head's files — metadata-only, no data moves.
    * REFUSED when main advanced past the branch's fork point: fast-
    * forwarding a diverged main would silently drop the rows main
    * gained since the fork (the lost-update this table layer refuses
    * everywhere else). The branch chain stays readable afterwards —
    * [[dropBranch]] is its explicit release.
    */
  def fastForward(name: String, branch: String): Int = locked(name) {
    val b = Ref.Branch(branch)
    val bh = head(name, b)
    val branchHead = snapshot(name, bh, b)
    val files = branchHead.files
    val stats = branchHead.statsByFile
    val base = branchHead.props.get(TableCatalog.BranchBaseProp).flatMap(_.toIntOption)
    val cur = currentVersion(name).getOrElse(0)
    // No-lost-update condition, two ways to satisfy it: (a) main is
    // still at the recorded fork point (the normal case — fast-
    // forward leaves a rebase record below, so repeated cycles land
    // here); or (b) main's HEAD was itself produced by fast-
    // forwarding THIS branch AND its files are a subset of the
    // branch head's — the crash-recovery case where the main commit
    // landed but the rebase record below was lost. The subset test
    // alone is NOT sufficient (an unrelated shrink of main — a
    // rollbackTo, a DELETE dropping whole files — also yields a
    // subset, and integrating over it would resurrect the removed
    // rows), hence the fastForwardFrom check gating it.
    val curFf =
      if (cur == 0) None
      else try manifestProps(name, cur).get("fastForwardFrom")
           catch { case scala.util.control.NonFatal(_) => None }
    lazy val curFiles =
      try manifest(name, cur).toSet
      catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
    require(base.contains(cur) ||
        (curFf.contains(branch) && curFiles.subsetOf(files.toSet)),
      s"cannot fast-forward $name to branch $branch: main is at v$cur but the " +
        s"branch forked at v${base.getOrElse(-1)} and main advanced " +
        "independently — diverged; rebase the branch or integrate manually")
    // PINNED at cur+1, not re-derived: the same-JVM lock does not
    // span processes, and an unpinned commit would re-read
    // currentVersion AFTER a cross-process append slipped past the
    // divergence check above — silently dropping the racer's rows.
    // Pinning makes the race surface as ConcurrentCommitException
    // (commitReplacement's identical guard).
    // the branch head's PENDING MOR deletes travel with its files:
    // publishing a dirty branch head without the prop would
    // resurrect every branch-deleted row on main (spec-pinned in
    // MorBranchSpec); main's applyDeletes materializes as usual
    val morCarry = TableCatalog.deletesCarry(branchHead.props)
    val newV = commitSnapshotAt(name, files, cur + 1,
      morCarry + ("fastForwardFrom" -> branch), stats)
    // REBASE RECORD: commit a branch snapshot (same files) whose
    // base prop is the just-created main version, so the NEXT cycle
    // of the long-lived branch passes the fork-point check directly —
    // including after a branch compaction rewrote the files (the
    // subset condition alone couldn't cover that). Ordering matters
    // for GC: the main commit above lands first, so these files are
    // referenced by a version manifest before any branch-chain
    // mutation. Best-effort: a crash between the two commits leaves
    // the old base prop, and the subset condition still covers the
    // un-compacted repeated-cycle case.
    try commitSnapshotAt(name, files, bh + 1,
      morCarry + (TableCatalog.BranchBaseProp -> newV.toString), stats, b)
    catch { case scala.util.control.NonFatal(_) => () }
    newV
  }

  /** Drop the branch chain; its unshared files become orphans for the
    * age-guarded GC. Returns whether it existed.
    */
  def dropBranch(name: String, branch: String): Boolean = locked(name) {
    val b = Ref.Branch(branch)
    val vs = versions(name, b)
    vs.foreach(v => Files.deleteIfExists(manifestFile(name, v, b)))
    vs.nonEmpty
  }

  /** Roll `ref` back (or forward) to its `version`'s state as a NEW
    * snapshot — Iceberg's `rollback_to_snapshot` semantics: history is
    * never rewritten, the bad snapshots stay readable for audit and
    * expire normally, and readers flip atomically to the restored file
    * list at the new head. Metadata-only — no data file is moved or
    * rewritten; the restored manifest carries the target's file list
    * AND its stats (no footer re-reads).
    *
    * Under the per-table write lock so the target manifest cannot be
    * expired between the read and the commit (expireSnapshots holds
    * the same lock). The new manifest carries no stream mark — the
    * replay guard keeps walking back to the newest marked snapshot,
    * which rollback leaves in place.
    *
    * FAIL-FAST under cross-process races (like overwrite, unlike
    * append): a concurrent writer in another process landing a commit
    * mid-rollback surfaces as ConcurrentCommitException — retrying
    * would re-point the chain at `version`'s files and silently
    * DISCARD the racer's commit (a lost update). The caller decides
    * whether rolling back over the new commit is really intended.
    */
  def rollbackTo(name: String, version: Int, ref: Ref = Ref.Main): Int = locked(name) {
    val live = versions(name, ref)
    require(live.contains(version),
      s"rollback of ${ref.describe(name)}: snapshot $version does not exist " +
        s"(live versions: ${live.mkString(", ")})")
    // pinned at the version observed above: a CROSS-process commit
    // landing after the read must fail this commit fast (the JVM
    // lock only serializes same-process writers), not be silently
    // superseded by a rollback that never saw it. The target's
    // pending-deletes prop (if any) is carried: the restored file
    // list is the target's, so its delete entries apply verbatim —
    // dropping them would resurrect the rows the target had deleted.
    // stamped graft.op=rollback: a rollback's file/entry transition
    // follows NO incremental shape (entries can vanish without a
    // consuming rewrite, or reappear over files re-added raw) — the
    // changelog switches to an exact merged-state diff on this marker
    val target = snapshot(name, version, ref)
    commitSnapshotAt(name, target.files, live.max + 1,
      props = TableCatalog.deletesCarry(target.props) +
        (TableCatalog.OpProp -> TableCatalog.OpRollback),
      stats = target.statsByFile, ref = ref)
  }

  // ---- Write-audit-publish: STAGED snapshots (Iceberg's WAP).
  // A staged manifest records a finished append's files WITHOUT making
  // them current: readers never see them, audit reads them explicitly,
  // publish folds them into a real version, discard abandons them (GC
  // then reclaims the bytes, age-guarded). Same document format as
  // version manifests; lives beside them as `staged-<id>.json`.

  private[io] def stagedFile(name: String, id: String): Path =
    metaPath(name).resolve(s"staged-$id.json")

  /** Record `files` as a staged (non-current) snapshot; returns the
    * stage id. No version race: ids are writer-unique, and the write
    * is atomic (tmp + move) so a concurrent publish/GC never reads a
    * torn document.
    */
  def writeStaged(name: String, files: Seq[String],
                  stats: Map[String, Map[String, FileStats.ColStats]] = Map.empty): String = {
    val id = java.util.UUID.randomUUID().toString.take(12)
    Codec.replaceAtomic(stagedFile(name, id), manifestJson(name, files.distinct, Map.empty, stats))
    id
  }

  def listStaged(name: String): Seq[String] = {
    val meta = metaPath(name)
    if (!Files.isDirectory(meta)) Seq.empty
    else
      Using.resource(Files.list(meta)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(f => f.startsWith("staged-") && f.endsWith(".json"))
          .map(f => f.stripPrefix("staged-").stripSuffix(".json"))
          .toSeq
      }.sorted
  }

  /** Staged snapshot `id`, decoded once. */
  private[io] def stagedSnapshot(name: String, id: String): Codec.Manifest =
    manifestAt(name, stagedFile(name, id))

  def stagedManifest(name: String, id: String): Seq[String] = stagedSnapshot(name, id).files

  /** Drop a staged snapshot's manifest (its data files become orphans
    * for the age-guarded GC). Returns whether it existed.
    */
  def deleteStaged(name: String, id: String): Boolean =
    Files.deleteIfExists(stagedFile(name, id))

  /** Newest version committed at or before `tsMs` (epoch millis) —
    * the `TIMESTAMP AS OF` resolution rule. The commit instant is the
    * manifest file's mtime (it is hard-linked into place fully formed,
    * so mtime == commit time); a manifest expired mid-scan simply
    * drops out. None when the table has no snapshot that old.
    */
  def versionAsOf(name: String, tsMs: Long): Option[Int] =
    versions(name).filter { v =>
      try Files.getLastModifiedTime(manifestFile(name, v)).toMillis <= tsMs
      catch { case _: java.io.IOException => false }
    }.maxOption

  /** Delete data files referenced by no surviving manifest; returns
    * the deleted paths. Safe under the single-writer model: every live
    * snapshot's file list is consulted, so current reads see no change.
    */
  def removeOrphanFiles(name: String,
                        olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    // Under the per-table write lock (same-JVM writers can't interleave
    // their move->commit span with this sweep at all), and EVERY
    // deletion is age-guarded like Iceberg's remove_orphan_files
    // `older_than` — which covers writers in OTHER processes: a
    // cross-process append moves finished files into data/ BEFORE its
    // manifest commit, so a young unreferenced data file may be a
    // commit-in-flight, and deleting it would tear that writer's
    // snapshot into a manifest referencing missing files.
    locked(name) {
      val cutoff = System.currentTimeMillis() - olderThanMs
      // cross-process races (a writer finishing its move, another GC):
      // any path that vanishes mid-sweep is treated as "recent" — skip
      // it this round, never abort the sweep
      def mtimeOr(p: Path, default: Long): Long =
        try Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => default }
      // a manifest vanishing between the version listing and its read
      // was expired by a concurrent (cross-process) GC — its files are
      // live only if a surviving manifest also lists them, which this
      // union naturally captures; never abort the sweep over it.
      // STAGED manifests are live too: an audit in flight must not
      // lose its files (discard deletes the staged manifest, and only
      // then does GC reclaim the bytes). ORDER MATTERS: staged
      // manifests are read BEFORE version manifests — publishStaged
      // commits the new version FIRST and deletes the staged manifest
      // second, so a stage that vanishes mid-sweep is always covered
      // by the subsequent version listing. Read the other way around,
      // a cross-process publish landing between the two listings would
      // leave its (old, past the age cutoff) files in neither set —
      // deleting files the CURRENT snapshot references.
      // BRANCH manifests are live like staged ones, and for the same
      // ordering reason read BEFORE the version listing: fastForward
      // commits the main version FIRST and a later deleteBranch drops
      // the branch chain second, so a branch manifest vanishing
      // mid-sweep always has its (integrated) files covered by the
      // subsequent version scan.
      def chainFiles(ref: Ref): Seq[String] = versions(name, ref).flatMap { v =>
        try manifest(name, v, ref)
        catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
      }
      val live = (listStaged(name).flatMap { id =>
        try stagedManifest(name, id)
        catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
      } ++ listBranches(name).flatMap(b => chainFiles(Ref.Branch(b)))
        ++ chainFiles(Ref.Main)).toSet
      val orphans = listDataFiles(name).filterNot(live)
        .filter(f => mtimeOr(Paths.get(f), Long.MaxValue) < cutoff)
      // Abandoned write-staging dirs (.stage-*, a writer that died
      // before its move) sit OUTSIDE data/ so readers never see them,
      // but their bytes still need reclaiming. Liveness = the NEWEST
      // mtime in the staging TREE: a long-running write keeps touching
      // files under .stage-X/<partition dirs> while the top-level dir's
      // own mtime stays at job start, so the top-level mtime alone would
      // sweep any job outliving the cutoff mid-write.
      val tableRoot = Paths.get(pathOf(name))
      if (Files.isDirectory(tableRoot)) {
        Using.resource(Files.list(tableRoot)) { s =>
          s.iterator().asScala.toSeq
            .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(".stage-"))
            .filter { p =>
              val newest =
                try Using.resource(Files.walk(p)) { w =>
                  w.iterator().asScala.foldLeft(0L)((m, q) =>
                    math.max(m, mtimeOr(q, Long.MaxValue)))
                } catch {
                  // tree vanishing mid-walk = its writer just finished
                  case _: java.io.IOException => Long.MaxValue
                  case _: java.io.UncheckedIOException => Long.MaxValue
                }
              newest < cutoff
            }
        // a concurrent GC may delete the same aged dir mid-walk: the
        // sweep is best-effort, the other sweep is doing the work
        }.foreach(TableIO.sweepDir)
      }
      orphans.foreach { f =>
        val p = Paths.get(f)
        Files.deleteIfExists(p) // a racing GC may have beaten us to it
        // local-FS checksum sidecar (.<name>.crc) goes with its file
        Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
      }
      FileStats.invalidate(orphans)
      // Position-delete files live under <table>/deletes/<id>/ and are
      // referenced from manifest PROPS, not file lists — liveness comes
      // from every surviving version's pendingDeletes entries. A dir
      // with no live delete file (its referencing snapshots expired, or
      // applyDeletes cleared the prop) is reclaimed age-guarded like
      // data orphans; a young dir may be a deleteWhereMOR mid-commit.
      val deleteOrphans: Seq[String] = {
        // branch MOR writes reference delete files from BRANCH props
        val liveDel = refs(name).flatMap(ref => versions(name, ref).flatMap { v =>
          try pendingDeletes(name, v, ref).map(_.deleteFile)
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        }).map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet
        val delRoot = Paths.get(pathOf(name), "deletes")
        if (!Files.isDirectory(delRoot)) Seq.empty
        else Using.resource(Files.list(delRoot)) { s =>
          s.iterator().asScala.toSeq.filter(Files.isDirectory(_))
        }.filter { dir =>
          val entries =
            try Using.resource(Files.walk(dir)) { w =>
              w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
            } catch {
              case _: java.io.IOException | _: java.io.UncheckedIOException => Seq.empty[Path]
            }
          entries.nonEmpty &&
            !entries.exists(p => liveDel(p.toAbsolutePath.normalize.toString)) &&
            entries.forall(p => mtimeOr(p, Long.MaxValue) < cutoff)
        }.flatMap { dir =>
          val removed = scala.collection.mutable.ArrayBuffer.empty[String]
          try Using.resource(Files.walk(dir)) { s =>
            s.sorted(java.util.Comparator.reverseOrder[Path]())
              .iterator().asScala.foreach { p =>
                if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
                  removed += p.toString
                Files.deleteIfExists(p)
                ()
              }
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => ()
          }
          removed
        }
      }
      // Reclaim partition directories the deletions emptied (deepest
      // first so nested col=value levels collapse) — leaving them
      // behind is listing noise that accumulates across overwrite+GC
      // cycles. Age-guarded like every other deletion here: a FRESH
      // empty dir may be a cross-process writer's just-created move
      // target (stageWrite does createDirectories then move), and each
      // delete tolerates losing its race to a concurrent GC or to a
      // file landing in the dir after the emptiness check.
      val dataRoot = Paths.get(dataPath(name))
      if (Files.isDirectory(dataRoot)) {
        val dirs =
          try Using.resource(Files.walk(dataRoot)) { s =>
            s.iterator().asScala.toSeq
              .filter(p => Files.isDirectory(p) && p != dataRoot)
              .sortBy(-_.getNameCount)
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => Seq.empty[Path]
          }
        dirs.foreach { d =>
          try {
            val empty = Using.resource(Files.list(d))(es => !es.iterator().hasNext)
            if (empty && mtimeOr(d, Long.MaxValue) < cutoff) Files.delete(d)
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => ()
          }
        }
      }
      orphans ++ deleteOrphans
    }
  }

  /** All parquet data files currently on disk for the table
    * (absolute paths, so they compare cleanly against resolved
    * manifest entries).
    */
  def listDataFiles(name: String): Seq[String] = {
    val root = Paths.get(dataPath(name))
    if (!Files.isDirectory(root)) Seq.empty
    else
      Using.resource(Files.walk(root)) { s =>
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(_.toAbsolutePath.normalize.toString)
          .filter(p => p.endsWith(".parquet") || p.endsWith(".snappy.parquet"))
          .toSeq
      }.sorted
  }

  /** All tables under the warehouse at ANY namespace depth (a table
    * directory is one carrying `_graft_meta`), as dot-qualified names.
    */
  def listTables(): Seq[String] = {
    val root = Paths.get(warehouse).toAbsolutePath.normalize
    if (!Files.isDirectory(root)) Seq.empty
    else
      Using.resource(Files.walk(root)) { s =>
        s.iterator().asScala
          .filter(p => Files.isDirectory(p) && Files.isDirectory(p.resolve("_graft_meta")))
          .map(p => root.relativize(p.toAbsolutePath.normalize)
            .iterator().asScala.map(_.toString).mkString("."))
          .toSeq
      }.sorted
  }

  def dropTable(name: String): Unit = {
    val p = Paths.get(pathOf(name))
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toSeq
      }.foreach(f => Files.delete(f))
    }
  }
}

/** Two writers raced to the same snapshot version; exactly one won and
  * the loser sees this. Retry = re-read the current version and
  * re-commit (the caller decides whether its file list still applies).
  */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

object TableCatalog {
  /** Manifest property carrying the streaming sink's micro-batch id. */
  val StreamBatchProp = "streamBatchId"

  /** Re-attempts [[TableCatalog.commitLoop]] makes after its first lost
    * race before the conflict surfaces to the caller.
    */
  private val MaxCommitRetries = 20

  /** What one attempt of [[TableCatalog.commitLoop]] commits: the whole
    * file list, the props the writer's rule derived from the head (e.g.
    * its deletes carry) and the per-file stats.
    */
  private[io] final case class Commit(files: Seq[String], props: Map[String, String],
                                      stats: Map[String, Map[String, FileStats.ColStats]])

  /** Manifest prop on every branch snapshot: the MAIN version the
    * branch forked from — fastForward's divergence check.
    */
  val BranchBaseProp = "branchBaseVersion"

  /** Manifest prop on the branch FORK RECORD (branch v1): a unique id
    * minted at [[TableIO.createBranch]]. Branch version numbering
    * restarts per fork, so a checkpointed branch-stream offset is only
    * meaningful against the fork it was taken from — the changelog
    * stream embeds this id in its offsets and refuses loudly when a
    * drop+re-create minted a new fork under the same branch name.
    */
  val BranchForkIdProp = "branchForkId"

  /** Manifest prop carrying PENDING merge-on-read position deletes:
    * encoded [[DeleteEntry]] list (delete parquet + the data files it
    * covers, paths relative to the table root). A snapshot with this
    * prop is "dirty": readers must anti-join the delete positions;
    * [[TableIO.applyDeletes]] rewrites the dirty files and clears it.
    */
  val DeletesProp = "graft.deletes"

  /** Manifest prop naming the commit's operation KIND when it matters
    * downstream. Today one value is meaningful: [[OpRewrite]] marks a
    * CONTENT-PRESERVING file rewrite (compaction, sort/Z-order rewrite,
    * partition-spec relay, applyDeletes materialization) — the logical
    * row set of the table is identical before and after the commit,
    * only its file layout changed. The streaming table source's
    * `skipRewriteCommits` option rides through exactly these (Iceberg's
    * `streaming-skip-overwrite-snapshots`); a file-removing commit
    * WITHOUT the marker is a data change (overwrite, COW DML, rollback)
    * and still refuses. Absent on plain appends — they remove nothing,
    * so the stream never consults it.
    */
  val OpProp = "graft.op"
  val OpRewrite = "rewrite"
  /** A rollback restores an older snapshot verbatim: its row-level
    * effect is a STATE transition (rows resurrect, rows vanish) that
    * no file/entry-incremental math expresses — the changelog diffs
    * the merged states exactly on this marker, and the table stream's
    * skip options never skip it.
    */
  val OpRollback = "rollback"

  /** One pending position-delete file and the data files it covers.
    * Paths are table-root-relative in the manifest prop (rename-safe)
    * and resolved absolute by [[TableCatalog.pendingDeletes]].
    */
  /** `eqKeyCols` empty = a POSITION delete (the parquet holds
    * (gd_file, gd_pos) pairs, killing exactly those rows of exactly
    * those files); non-empty = an EQUALITY delete (the parquet holds
    * key tuples under those column names, killing every matching row
    * of the listed dirty files — Iceberg's equality-delete semantics,
    * the zero-read CDC write). Equality entries apply ONLY to their
    * dirty list, which never includes files committed with or after
    * the entry — so an upsert's own new rows survive it.
    */
  final case class DeleteEntry(deleteFile: String, dirtyFiles: Seq[String],
                               eqKeyCols: Seq[String] = Seq.empty) {
    def isEquality: Boolean = eqKeyCols.nonEmpty
  }

  // control-char separators: the codec escapes them inside the JSON
  // string, and they can never appear in a path component
  private final val DelFieldSep = '\u0001'
  private final val DelEntrySep = '\u0002'

  // entry format: kind token, delete file, dirty files...; the kind
  // token is "P" for position entries, "E:k1,k2" for equality entries
  // (key column names may not contain ',' — enforced at encode)
  private[io] def encodeDeletes(entries: Seq[DeleteEntry]): String =
    entries.map { e =>
      val kind =
        if (!e.isEquality) "P"
        else {
          require(e.eqKeyCols.forall(!_.contains(',')),
            s"equality-delete key columns may not contain ',': ${e.eqKeyCols}")
          "E:" + e.eqKeyCols.mkString(",")
        }
      (kind +: e.deleteFile +: e.dirtyFiles).mkString(DelFieldSep.toString)
    }.mkString(DelEntrySep.toString)

  private[io] def decodeDeletes(v: String): Seq[DeleteEntry] =
    v.split(DelEntrySep).toSeq.filter(_.nonEmpty).map { s =>
      val parts = s.split(DelFieldSep).toSeq
      val keys =
        if (parts.head == "P") Seq.empty[String]
        else parts.head.stripPrefix("E:").split(',').toSeq
      DeleteEntry(parts(1), parts.drop(2), keys)
    }

  /** The deletes prop of `props` as a carryable props map. */
  private[io] def deletesCarry(props: Map[String, String]): Map[String, String] =
    props.view.filterKeys(_ == DeletesProp).toMap

  /** Concatenate two already-encoded deletes-prop values. */
  private[io] def joinDeletesRaw(a: String, b: String): String =
    a + DelEntrySep + b

  /** Declared table metadata — ONE document (`meta.json`), so a
    * multi-piece change (ALTER TABLE touching schema + renames +
    * dropped list together) commits or doesn't as a unit: three
    * separate files would let a crash land between writes and leave,
    * e.g., a renamed logical column with no physical mapping (reads
    * as null, next write forks a second physical column — permanent).
    * Fields:
    *   - schema: declared schema JSON — present for SQL-created
    *     tables (CTAS validates the write against it before any data
    *     file exists); absent for path-written tables (schema-on-read)
    *   - pcols: declared partition columns (absent = undeclared)
    *   - renames: logical-name -> physical-name pairs. The PHYSICAL
    *     name is the column's name at birth — the name every data
    *     file stores, fixed forever (parquet resolves columns by name;
    *     we deliberately don't replicate Iceberg's field-ID
    *     indirection). RENAME COLUMN only changes the logical name;
    *     readers alias physical -> logical, writers logical ->
    *     physical. Identity entries are never stored.
    *   - dropped: physical names dropped by ALTER TABLE — their bytes
    *     are still present in live data files (DROP is metadata-only),
    *     so re-adding a column under such a name would resurrect stale
    *     values; `GraftCatalog.alterTable` consults this to reject it.
    */
  final case class TableMeta(@JsonProperty("schema") schemaJson: Option[String] = None,
                             @JsonProperty("pcols") partitionCols: Option[Seq[String]] = None,
                             @JsonSerialize(using = classOf[Codec.PairsOut])
                             @JsonDeserialize(using = classOf[Codec.PairsIn])
                             renames: Map[String, String] = Map.empty,
                             dropped: Seq[String] = Seq.empty,
                             // hidden partition transforms (pspec):
                             // canonical spec strings, parsed by
                             // PartitionTransforms.parse. When present,
                             // pcols holds the DERIVED layout names.
                             @JsonProperty("pspec") partitionSpec: Seq[String] = Seq.empty,
                             // persisted WRITE SORT ORDER (Iceberg's
                             // write.sort-order): appends/overwrites
                             // land range-distributed + sorted on
                             // these columns
                             @JsonProperty("sort") sortOrder: Seq[String] = Seq.empty,
                             // WRITE DISTRIBUTION MODE (Iceberg's
                             // write.distribution-mode): Some("hash")
                             // clusters each batch by the layout
                             // columns before the partitioned write —
                             // one file per partition value per
                             // commit, not (tasks x partitions)
                             @JsonProperty("dist") distribution: Option[String] = None,
                             // CHECK constraints (Delta's ALTER TABLE
                             // ADD CONSTRAINT ... CHECK): name -> SQL
                             // predicate; every write path validates
                             // rows in-pass and refuses on a FALSE
                             // (NULL passes, SQL CHECK semantics)
                             @JsonSerialize(using = classOf[Codec.PairsOut])
                             @JsonDeserialize(using = classOf[Codec.PairsIn])
                             checks: Map[String, String] = Map.empty)

  /** Manifest prop key for a sink's batch mark: the bare legacy key
    * when no sink identity is given, else `streamBatchId:<sinkId>`.
    */
  def streamBatchProp(sinkId: Option[String]): String =
    sinkId.fold(StreamBatchProp)(sid => s"$StreamBatchProp:$sid")
}

/** Table read/write API mirroring the reference's SDS Iceberg wrapper
  * surface (reference: IngestionJob.scala:4,80-84 `SDSIcebergWriter
  * .append(df, name, partitionCols)`; DimensionJob.scala:58
  * `overwritePartition`; FactJob.scala:39-42 `SDSIcebergReader.read`),
  * plus snapshot reads (`readVersion`) emulating Iceberg time travel.
  *
  * Scale notes: data files are written once and only manifests change
  * on commit — an overwrite never rewrites surviving bytes, and
  * `overwritePartition` swaps only the touched partitions' files, so
  * the daily "re-run one date partition" rebuild commits O(partition)
  * new bytes regardless of table size. Callers control file count via
  * the DataFrame's partitioning (the pipeline repartitions by the
  * table partition column before appending so each Hive partition gets
  * few large files). Partition-column predicates prune at the file
  * level because reads pass `basePath`, keeping Hive-style directory
  * semantics on the manifest's file list.
  */
final class TableIO(spark: SparkSession, val catalog: TableCatalog) {

  /** Declare a hidden partition spec (see [[PartitionTransforms]]):
    * every subsequent write derives the layout columns from the spec
    * and partitions by them; reads hide them; catalog-scan filters on
    * the SOURCE columns prune files by the layout. Must run before the
    * table's first commit — the layout is physical, and a table with
    * mixed directory depths breaks Hive partition discovery.
    */
  def setPartitionSpec(name: String, specs: Seq[String]): Unit = {
    require(specs.nonEmpty, "empty partition spec (use no spec for an unpartitioned table)")
    val parsed = specs.map(PartitionTransforms.parse) // validates loudly
    require(catalog.currentVersion(name).isEmpty,
      s"partition spec must be declared before the first commit to $name " +
        "(the layout is physical; respecTable evolves an existing table via explicit rewrite)")
    val meta = catalog.readMeta(name)
    catalog.writeMeta(name, meta.copy(
      partitionCols = Some(parsed.map(_.derivedName)),
      partitionSpec = parsed.map(_.spec)))
  }

  /** Partition-spec EVOLUTION, the explicit-rewrite way: relay the
    * current snapshot into the new spec's layout as one logical
    * overwrite. Unlike Iceberg's metadata-only evolution (new spec
    * applies to new data; old files keep their layout and per-file
    * partition tuples ride the manifests), this layer derives layout
    * from DIRECTORY names, so a uniform layout per live snapshot is
    * the invariant — hence rewrite, honest O(table) cost included.
    * Prior versions keep their old-layout files (time travel reads
    * them fine: the reserved `gp_` prefix is dropped on every read
    * regardless of which spec minted it, and pruning no-ops on files
    * without the current spec's keys — conservative, never wrong).
    * The meta update and the overwrite are two separate commits (the
    * per-table lock is NOT reentrant, and meta.json swaps atomically
    * on its own): a crash between them leaves a readable table whose
    * next write completes the migration. Single-writer operation,
    * like every overwrite.
    */
  def respecTable(name: String, specs: Seq[String]): Unit = {
    require(specs.nonEmpty, "respec requires a non-empty partition spec")
    val parsed = specs.map(PartitionTransforms.parse) // validates loudly
    require(catalog.currentVersion(name).nonEmpty, s"table not found: $name")
    val df = read(name) // plan + hidden-drop captured under the OLD meta
    val meta = catalog.readMeta(name)
    catalog.writeMeta(name, meta.copy(
      partitionCols = Some(parsed.map(_.derivedName)),
      partitionSpec = parsed.map(_.spec)))
    // overwrite consults the NEW meta: stageWrite derives the new
    // layout; clusterByLayout gives each new partition few files
    overwrite(clusterByLayout(df, name, parsed.map(_.derivedName), 1), name,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
  }

  /** Read the head of `ref` (main's current snapshot by default). A
    * dropped branch reports the same "does not exist" error whether it
    * vanished before the head listing or between it and the manifest
    * read.
    */
  def read(name: String, ref: Ref = Ref.Main): DataFrame = {
    val v = catalog.head(name, ref)
    try readVersion(name, v, ref)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalArgumentException(s"${ref.missing(name)} (dropped concurrently)")
    }
  }

  /** Pruned programmatic read: the path-API twin of the catalog
    * scan's plan-time file skip. The condition is translated (
    * conservatively) to v1 filters and evaluated per manifest file
    * against BOTH the hidden partition layout and the manifest column
    * stats; files that provably cannot match never reach the scan.
    * The full condition still applies row-level afterwards, so an
    * untranslatable or partially-translatable predicate only loses
    * pruning, never correctness. This is how a `TableIO` consumer gets
    * "filter last week touches O(matching partitions)" without going
    * through the SQL catalog.
    */
  def readWhere(name: String, cond: org.apache.spark.sql.Column): DataFrame = {
    val v = catalog.head(name)
    val kept = scopeFor(name, v, Ref.Main, cond).touched
    // pending position deletes apply to whatever survived pruning —
    // the merge is file-scoped, so a fully-pruned dirty file costs
    // nothing
    mergeDeletes(name, kept, catalog.pendingDeletes(name, v)).filter(cond)
  }

  /** The table's [[FileScope]] over `files` under the logical read
    * `schema`: its hidden spec, else the Hive identity dirs every file
    * shares (a mixed layout proves nothing by directory).
    */
  private def fileScopeOf(name: String, files: Seq[String],
                          schema: org.apache.spark.sql.types.StructType): FileScope = {
    val meta = catalog.readMeta(name)
    val specs = meta.partitionSpec.map(PartitionTransforms.parse)
    FileScope(
      if (specs.nonEmpty) specs else sharedLayoutOf(name, files).map(PartitionTransforms.Identity),
      schema, meta.renames)
  }

  /** A snapshot scoped for a predicate: every file split by
    * [[FileScope]] into `carried` (provably no matching row), `covered`
    * (provably every row matches; computed only on request) and the
    * remaining `candidates`; `conflicts` asks a racer's new file the
    * same might-match question.
    */
  private final class Scoped(val carried: Seq[String], val covered: Seq[String],
                              val candidates: Seq[String], val conflicts: String => Boolean) {
    def touched: Seq[String] = covered ++ candidates
  }

  /** Scope `ref`'s snapshot `v` for `cond` — translated once
    * ([[FilterTranslation.ofCondition]]) unless the caller already holds
    * the command's exact v1 `filters` (SQL DELETE's pushed filters).
    * `prove` computes the covered tier (DELETE's metadata-only drop).
    * Timed under `dml.pruneProbe`.
    */
  private def scopeFor(name: String, v: Int, ref: Ref, cond: org.apache.spark.sql.Column,
                       filters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
                       prove: Boolean = false): Scoped = {
    val snap = catalog.snapshot(name, v, ref)
    val files = snap.files
    if (files.isEmpty) return new Scoped(Seq.empty, Seq.empty, Seq.empty, _ => true)
    Timers.time("dml.pruneProbe") {
      FileStats.prime(snap.statsByFile)
      val schema = readFiles(name, files).schema
      val (might, exact) = filters.fold(FilterTranslation.ofCondition(schema, cond))(fs => (fs, Some(fs)))
      val scope = fileScopeOf(name, files, schema)
      val (touched, carried) = files.partition(scope.mightMatch(_, might))
      val (covered, candidates) =
        if (prove) touched.partition(f => exact.exists(scope.mustMatchAll(f, _)))
        else (Seq.empty, touched)
      new Scoped(carried, covered, candidates, scope.mightMatch(_, might))
    }
  }

  /** Metadata-only `count(*)` of the current snapshot (Iceberg's
    * stats-based count): per-file row counts come from the manifest's
    * persisted stats, so a stats-complete table answers in O(manifest)
    * with ZERO data or footer reads; files a legacy manifest carries
    * without stats fall back to one footer read each — more expensive,
    * never wrong. At 100 TB this is the difference between a catalog
    * lookup and a cluster-wide scan for the most common query there is.
    */
  def rowCount(name: String, ref: Ref = Ref.Main): Long = {
    val v = catalog.head(name, ref)
    val snap = catalog.snapshot(name, v, ref)
    val stats = snap.statsByFile
    lazy val conf = spark.sessionState.newHadoopConf()
    val pending = catalog.pendingDeletes(name, v, ref)
    // an EQUALITY delete's row count is key tuples, not rows killed
    // (a key may match many rows or none) — no metadata answer exists
    // until applyDeletes materializes it, so count honestly (Iceberg
    // has the same limitation)
    if (pending.exists(_.isEquality)) return readVersion(name, v, ref).count()
    val dataRows = snap.files.map { f =>
      stats.get(f).flatMap(_.values.headOption.map(_.rowCount))
        .getOrElse(FileStats.rowCount(f, conf))
    }.sum
    // pending position deletes subtract exactly: deleteWhereMOR scans
    // the deletes-MERGED frame, so entries never overlap a position an
    // earlier entry already deleted, and every position is live data
    dataRows - pending.map(e => FileStats.rowCount(e.deleteFile, conf)).sum
  }

  /** Time travel by tag: `readTag(t, "train-run-47")` — the named-ref
    * variant of `readVersion`.
    */
  def readTag(name: String, tag: String): DataFrame =
    readVersion(name, catalog.tags(name).getOrElse(tag,
      throw new IllegalArgumentException(s"no such tag on $name: $tag")))

  /** Time travel: the reference's `VERSION AS OF` (README.md:143-154).
    * mergeSchema, like the raw-scan path (`Tables`): an append with a
    * drifted (added-column) schema must not silently drop the new
    * column on read-back. A snapshot with PENDING merge-on-read
    * position deletes ([[deleteWhereMOR]]) is served deletes-merged —
    * clean files scan on the normal codegen path, only dirty files pay
    * the anti-join.
    */
  def readVersion(name: String, version: Int, ref: Ref = Ref.Main): DataFrame =
    mergeDeletes(name, catalog.manifest(name, version, ref),
      catalog.pendingDeletes(name, version, ref))

  /** Row bound above which a MOR delete/key write is SHARDED (shuffle
    * by dirty-file key / equality key) instead of coalesced into one
    * file. The one-file path is right for the designed regime — a
    * delete set that grows with rows deleted since the last
    * applyDeletes — but a predicate matching millions of rows must not
    * serialize its delete-file write through a single task. ~1M
    * position rows ≈ 100 MB uncompressed: a sane single-task ceiling.
    */
  private def morShardRows: Long =
    spark.conf.getOption("spark.graft.mor.shardRows").map(_.toLong).getOrElse(1L << 20)

  /** Deletes prop for a commit that REWRITES some dirty files (their
    * entries are consumed — the rewritten replacement rows are already
    * deletes-merged) and CARRIES others verbatim (their entries must
    * survive). Per entry: fully-carried → unchanged; fully-consumed →
    * dropped; PARTIALLY consumed position entries get their delete
    * parquet rewritten to only the carried files' positions, because
    * [[rowCount]] subtracts a position file's full row count and a
    * stale position for a rewritten file would over-subtract.
    * (Equality entries just trim their dirty list — their delete file
    * holds key tuples, not positions, and rowCount already falls back
    * to a real count when equality entries are pending.) Returns the
    * props map for the commit: empty = every entry consumed, the
    * snapshot is clean again.
    */
  private[io] def trimDeletesForRewrite(name: String,
      entries: Seq[TableCatalog.DeleteEntry],
      carried: Seq[String]): Map[String, String] = {
    val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
    def norm(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
    val carriedSet = carried.map(norm).toSet
    def rel(p: String): String = {
      val a = Paths.get(p).toAbsolutePath.normalize
      if (a.startsWith(root)) root.relativize(a).toString else p
    }
    val trimmed = entries.flatMap { e =>
      val kept = e.dirtyFiles.filter(f => carriedSet(norm(f)))
      if (kept.isEmpty) Seq.empty
      else if (e.isEquality || kept.size == e.dirtyFiles.size)
        Seq(TableCatalog.DeleteEntry(rel(e.deleteFile), kept.map(rel), e.eqKeyCols))
      else {
        val keptKeys = kept.map(f => TableIO.fileKeyOf(root, f))
        val rows = spark.read.schema("gd_file STRING, gd_pos BIGINT").parquet(e.deleteFile)
          .filter(col("gd_file").isin(keptKeys: _*))
        // a SHARDED delete set lists every dirty file on every shard
        // entry, so a shard may hold zero positions for the carried
        // files — drop the phantom entry instead of carrying a no-op
        // anti-join and a misleading .deletes row
        val n = rows.count()
        if (n == 0) Seq.empty else writeDeleteSet(name, rows, n, "gd_file", kept.map(rel))
      }
    }
    if (trimmed.isEmpty) Map.empty
    else Map(TableCatalog.DeletesProp -> TableCatalog.encodeDeletes(trimmed))
  }

  /** Deletes-merged read of an explicit file subset (no entries = a
    * plain scan): files a pending delete entry covers are scanned WITH
    * their position bookkeeping columns and anti-joined against the
    * (broadcast) delete set; all other files scan on the plain path and
    * union in. The delete set is small by design — it grows with rows
    * DELETED since the last [[applyDeletes]], never with the table — so
    * the broadcast is the right plan. Every copy-on-write rewrite reads
    * its candidates through here (the programmatic/SQL DELETE executor
    * and the SQL row-level scan over a dirty snapshot), so a rewrite can
    * never resurrect MOR-deleted rows.
    */
  private[io] def mergeDeletes(name: String, files: Seq[String],
                           entries: Seq[TableCatalog.DeleteEntry]): DataFrame = {
    def norm(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
    val dirtySet = entries.flatMap(_.dirtyFiles).map(norm).toSet
    val (dirty, clean) = files.partition(f => dirtySet(norm(f)))
    if (dirty.isEmpty) return readFiles(name, files)
    val dirtyDF = readFiles(name, dirty, withPos = true)
    val merged = applyDeleteEntries(dirtyDF, name, entries)
      .drop(TableIO.PosFileCol, TableIO.PosIdxCol)
    if (clean.isEmpty) merged else readFiles(name, clean).unionByName(merged)
  }

  /** Anti-join a frame that carries the position bookkeeping columns
    * against every pending delete entry: position entries fold into
    * ONE combined broadcast anti-join on (file, pos); equality entries
    * anti-join their key tuples one entry at a time, scoped to the
    * entry's own dirty files via the file key (files committed with or
    * after the entry are never in its dirty list, so an upsert's new
    * rows survive its own delete). Every build side is a delete set —
    * small by design, broadcast is the right plan.
    */
  /** The position-delete pairs of `pos` entries as one frame. */
  private def posDeleteFrame(pos: Seq[TableCatalog.DeleteEntry]): DataFrame =
    spark.read
      .schema("gd_file STRING, gd_pos BIGINT")
      .parquet(pos.map(_.deleteFile).distinct: _*)

  /** Join condition matching rows of `df` that equality entry `e`
    * kills: key-tuple equality against `keys` (equality keys ride
    * PHYSICAL column names — rename-proof, like data files; the probe
    * side is logical-named) scoped to the entry's dirty file keys.
    * Shared by the anti (merged reads) and semi (changelog kills)
    * flavors so the matching semantics can never diverge.
    */
  private def eqKillCond(df: DataFrame, keys: DataFrame,
                         e: TableCatalog.DeleteEntry,
                         root: java.nio.file.Path,
                         toLogical: Map[String, String]): org.apache.spark.sql.Column = {
    val dirtyKeys = e.dirtyFiles.map(f => TableIO.fileKeyOf(root, f))
    e.eqKeyCols.map(k =>
      df(toLogical.getOrElse(k, k)) === keys(k)).reduce(_ && _) &&
      df(TableIO.PosFileCol).isin(dirtyKeys: _*)
  }

  private def applyDeleteEntries(df: DataFrame, name: String,
                                 entries: Seq[TableCatalog.DeleteEntry]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
    val (eq, pos) = entries.partition(_.isEquality)
    val afterPos =
      if (pos.isEmpty) df
      else {
        val delDF = posDeleteFrame(pos)
        df.join(broadcast(delDF),
          df(TableIO.PosFileCol) === delDF("gd_file") &&
            df(TableIO.PosIdxCol) === delDF("gd_pos"),
          "left_anti")
      }
    val toLogical = catalog.renames(name).map(_.swap)
    eq.foldLeft(afterPos) { (cur, e) =>
      val keys = spark.read.parquet(e.deleteFile).select(e.eqKeyCols.map(col): _*)
      cur.join(broadcast(keys), eqKillCond(cur, keys, e, root, toLogical), "left_anti")
    }
  }

  /** The rows `entries` logically DELETE, as a data-column frame — the
    * SEMI mirror of [[applyDeleteEntries]], for the changelog's
    * merge-on-read steps: scans only the entries' dirty files with
    * `prior` entries applied first, so rows already dead before these
    * entries never re-report (position entries are disjoint across
    * commits by construction — the delete scan records LIVE rows only —
    * and an equality entry kills only rows live at its commit). One
    * commit writes one entry KIND, and sharded same-commit entries
    * partition their rows (by file for positions, by key for
    * equality), so the union below never double-counts a row.
    */
  private def rowsKilledBy(name: String, entries: Seq[TableCatalog.DeleteEntry],
                           prior: Seq[TableCatalog.DeleteEntry],
                           excludeFiles: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
    def norm(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
    // excludeFiles: same-commit ADDED files — their kills net against
    // the INSERT frame in changelogCore, not as DELETE rows here
    val dirtyFiles = entries.flatMap(_.dirtyFiles).map(norm).distinct
      .filterNot(excludeFiles)
    val scanned = readFiles(name, dirtyFiles, withPos = true)
    val live = if (prior.isEmpty) scanned else applyDeleteEntries(scanned, name, prior)
    val (eq, pos) = entries.partition(_.isEquality)
    val toLogical = catalog.renames(name).map(_.swap)
    val posKilled =
      if (pos.isEmpty) None
      else {
        val delDF = posDeleteFrame(pos)
        Some(live.join(broadcast(delDF),
          live(TableIO.PosFileCol) === delDF("gd_file") &&
            live(TableIO.PosIdxCol) === delDF("gd_pos"),
          "left_semi"))
      }
    val eqKilled = eq.map { e =>
      val keys = spark.read.parquet(e.deleteFile).select(e.eqKeyCols.map(col): _*)
      live.join(broadcast(keys), eqKillCond(live, keys, e, root, toLogical), "left_semi")
    }
    (posKilled.toSeq ++ eqKilled).reduce(_.unionByName(_))
      .drop(TableIO.PosFileCol, TableIO.PosIdxCol)
  }

  /** Time travel by commit instant — `TIMESTAMP AS OF` resolution
    * (newest snapshot at or before `tsMs`); rejects loudly when the
    * table has no snapshot that old.
    */
  def readAsOf(name: String, tsMs: Long): DataFrame =
    readVersion(name, catalog.versionAsOf(name, tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"$name has no snapshot at or before epoch-ms $tsMs")))

  /** The file-diff readers (`readIncremental`, `readChangelog`) diff
    * MANIFESTS, and a merge-on-read commit changes no files: a
    * `deleteWhereMOR` passes an append-only check while its rows are
    * logically gone, and `updateWhereMOR`/`upsertMOR` replacement
    * files would stream as pure inserts with the replaced rows still
    * live in the consumer's view. So any version in the range that
    * carries a pending-deletes prop refuses loudly (the raw-manifest
    * consumer rule), naming `applyDeletes` as the recovery step —
    * after which a range starting at or after the applied snapshot
    * reads clean.
    */
  private def rejectDirtyRange(label: String, fromV: Int, to: Int, what: String,
                               dirtyAt: Int => Boolean): Unit =
    (math.max(fromV, 1) to to).foreach { v =>
      if (dirtyAt(v))
        throw new IllegalStateException(
          s"$what read of $label: snapshot $v in range [$fromV, $to] carries pending " +
            "merge-on-read deletes — a MOR commit changes no files, so file-level " +
            "diffing would serve deleted or replaced rows as live. Run applyDeletes " +
            "and read a range starting at or after the applied snapshot.")
    }

  /** Incremental scan: the rows ADDED by snapshots in
    * `(fromVersion, toVersion]` — the "what changed since I last
    * looked" primitive (Iceberg's incremental append scan). At 100 TB
    * this is the difference between a downstream consumer re-reading
    * the whole table every cycle and reading only the appended files:
    * cost scales with the delta, not the table. Append-only ranges
    * only: a commit that REMOVED files (overwrite, DELETE/UPDATE/MERGE
    * rewrite, compaction) breaks file-level added-file semantics —
    * a compacted file mixes pre-range rows into "new" data — so every
    * consecutive manifest pair in the range is checked and a
    * non-append commit rejects the read loudly instead of answering
    * wrong (the same restriction Iceberg's incremental read has). An
    * expired manifest inside the range also rejects: without it the
    * append-only property can't be proven. On a branch, v1 is the FORK
    * record (main's files at fork time), so `fromVersion = 1` reads
    * exactly the branch's own additions — "what landed on the audit
    * branch since I last looked".
    */
  def readIncremental(name: String, fromVersion: Int,
                      toVersion: Option[Int] = None, ref: Ref = Ref.Main): DataFrame = {
    val to = toVersion.getOrElse(catalog.head(name, ref))
    val label = ref.describe(name)
    require(fromVersion >= 1 && fromVersion <= to,
      s"fromVersion must be in [1, $to], got $fromVersion")
    rejectDirtyRange(label, fromVersion, to, "incremental",
      v => catalog.pendingDeletes(name, v, ref).nonEmpty)
    def manifestOrReject(v: Int): Seq[String] =
      try catalog.manifest(name, v, ref)
      catch {
        // the range is INCLUSIVE of fromVersion here: its manifest is
        // the baseline that proves the delta, so it is required too
        case _: java.nio.file.NoSuchFileException => throw new IllegalStateException(
          s"incremental read of $label: snapshot $v in required range [$fromVersion, $to] " +
            "is expired — append-only history cannot be verified")
      }
    val fromFiles = manifestOrReject(fromVersion)
    var prev = fromFiles.toSet
    ((fromVersion + 1) to to).foreach { v =>
      val cur = manifestOrReject(v).toSet
      val removed = prev.diff(cur)
      if (removed.nonEmpty) throw new IllegalStateException(
        s"incremental read of $label requires an append-only range: snapshot $v " +
          s"removed ${removed.size} file(s) (overwrite, row-level DML, or compaction " +
          s"inside ($fromVersion, $to])")
      prev = cur
    }
    val added = manifestOrReject(to).filterNot(fromFiles.toSet)
    // empty delta: zero rows under the TABLE's schema (a bare empty
    // DataFrame would drop the columns on schema-on-read tables)
    if (added.isEmpty) readFiles(name, manifestOrReject(to)).limit(0)
    else readFiles(name, added)
  }

  /** Changelog (CDC) read: the NET row-level changes committed by
    * snapshots in `(fromVersion, toVersion]`, as data rows plus
    * `_change_type` ("INSERT" / "DELETE", Iceberg's changelog-scan
    * values) and `_change_version` (the committing snapshot). Where
    * `readIncremental` rejects any range containing a non-append
    * commit, this is the consumer path ACROSS deletes, updates, MERGE
    * and compaction: each commit is diffed at the FILE level (files
    * added vs files removed by that snapshot), and rows a copy-on-write
    * rewrite merely carried from a removed file into its replacement
    * cancel out via `exceptAll` (bag semantics, so duplicate rows keep
    * their multiplicity). A pure append — files added, none removed —
    * skips the diff entirely and streams the added files as INSERTs,
    * and a pure compaction (same rows, new files) nets to zero rows.
    * Consumer cost scales with the files each commit TOUCHED, not the
    * table: at 100 TB a file-scoped MERGE yields a changelog job over
    * just the rewritten files. `fromVersion = 0` replays history from
    * the table's creation. Every manifest in `[fromVersion, toVersion]`
    * must still exist (expired history cannot be diffed — same loud
    * reject as `readIncremental`). On a branch, `fromVersion = 1` (the
    * fork record, [[Ref.origin]]) reports only the branch's own changes
    * — the audit question "what exactly will fast_forward publish?" —
    * while 0 replays the inherited fork content as INSERTs too.
    */
  def readChangelog(name: String, fromVersion: Int = 0,
                    toVersion: Option[Int] = None, ref: Ref = Ref.Main): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = toVersion.getOrElse(catalog.head(name, ref))
    val label = ref.describe(name)
    require(fromVersion >= 0 && fromVersion <= to,
      s"fromVersion must be in [0, $to], got $fromVersion")
    def manifestOrReject(v: Int): Seq[String] =
      if (v == 0) Seq.empty
      else
        try catalog.manifest(name, v, ref)
        catch {
          case _: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"changelog read of $label: snapshot $v in required range [$fromVersion, $to] " +
              "is expired — its commit can no longer be diffed")
        }
    // no catch here: the catalog accessors already return empty for
    // missing manifests, so anything thrown is a CORRUPT deletes prop —
    // loud beats silently treating a MOR commit as clean
    def pendingOrEmpty(v: Int): Seq[TableCatalog.DeleteEntry] =
      if (v == 0) Seq.empty else catalog.pendingDeletes(name, v, ref)
    // Schema-on-read tables (no declared schema) can drift columns
    // between versions, so per-step frames may disagree in column
    // set/order: exceptAll pairs are aligned to their shared name
    // union (missing columns null-filled) and the cross-step union is
    // by NAME — a positional unionAll would silently misalign columns.
    def align(x: DataFrame, y: DataFrame): (DataFrame, DataFrame) = {
      val names = x.columns ++ y.columns.filterNot(x.columns.contains)
      def conform(df: DataFrame, other: DataFrame): DataFrame =
        df.select(names.map { c =>
          if (df.columns.contains(c)) col(c)
          else lit(null).cast(other.schema(c).dataType).as(c)
        }: _*)
      (conform(x, y), conform(y, x))
    }
    // deletes-merged view of an arbitrary (files, entries) state —
    // the exact-state fallback for steps with no incremental shape
    def mergedState(files: Seq[String],
                    pending: Seq[TableCatalog.DeleteEntry]): Option[DataFrame] =
      if (files.isEmpty) None
      else if (pending.isEmpty) Some(readFiles(name, files))
      else Some(applyDeleteEntries(readFiles(name, files, withPos = true), name, pending)
        .drop(TableIO.PosFileCol, TableIO.PosIdxCol))
    var prevSeq = manifestOrReject(fromVersion)
    var prev = prevSeq.toSet
    var prevPending = pendingOrEmpty(fromVersion)
    val steps = ((fromVersion + 1) to to).flatMap { v =>
      val curSeq = manifestOrReject(v)
      val cur = curSeq.toSet
      val added = (cur -- prev).toSeq.sorted
      val removed = (prev -- cur).toSeq.sorted
      val curPending = pendingOrEmpty(v)
      // this step's PRE-commit state, pinned before the vars advance
      // (mergedRemoved is invoked after the reassignment)
      val pendingBefore = prevPending
      val prevFiles = prevSeq
      prevSeq = curSeq
      prev = cur
      prevPending = curPending
      def tag(df: DataFrame, tpe: String): DataFrame =
        df.withColumn("_change_type", lit(tpe)).withColumn("_change_version", lit(v))
      def stateDiff(): Seq[DataFrame] =
        (mergedState(prevFiles, pendingBefore), mergedState(curSeq, curPending)) match {
          case (None, None) => Seq.empty
          case (Some(b), None) => Seq(tag(b, "DELETE"))
          case (None, Some(a)) => Seq(tag(a, "INSERT"))
          case (Some(b), Some(a)) =>
            val (x, y) = align(a, b)
            Seq(tag(x.exceptAll(y), "INSERT").unionByName(tag(y.exceptAll(x), "DELETE")))
        }
      val op = try catalog.manifestProps(name, v, ref).get(TableCatalog.OpProp)
               catch { case scala.util.control.NonFatal(_) => None }
      if (op.contains(TableCatalog.OpRollback)) {
        // a ROLLBACK restores an older snapshot verbatim: rows
        // resurrect and entries reappear/vanish in ways no
        // file/entry-incremental math expresses — diff the exact
        // merged states instead (net: resurrections INSERT, losses
        // DELETE, an identical-state rollback emits nothing)
        stateDiff()
      } else {
        // MERGE-ON-READ steps (Iceberg's changelog-with-deletes): a MOR
        // commit changes no files but stacks delete ENTRIES — the rows
        // its new entries kill report as DELETEs at v, computed from
        // the entries' own parquet against the pre-commit live state
        // (rowsKilledBy). Entries CONSUMED or TRIMMED by a rewrite
        // don't report: a trimmed carry-over keeps its delete FILE
        // (trimDeletesForRewrite shrinks the dirty list only), and its
        // kills were reported when the original entry committed.
        val beforeEntries = pendingBefore.toSet
        val beforeDelFiles = pendingBefore.map(_.deleteFile).toSet
        val newEntries = curPending.filterNot(e =>
          beforeEntries(e) || beforeDelFiles(e.deleteFile))
        val vanished = pendingBefore.filterNot(curPending.toSet)
        if (vanished.nonEmpty && removed.isEmpty)
          // entries can only legitimately disappear when a rewrite
          // consumed their dirty files — anything else (an unstamped
          // legacy rollback, manual metadata surgery) would silently
          // drop resurrections from the replay
          throw new IllegalStateException(
            s"changelog read of $label: snapshot $v dropped ${vanished.size} pending " +
              "delete entr(ies) without rewriting any file — no incremental shape " +
              "expresses this transition (an unstamped rollback?); read a range " +
              "starting at or after it")
        // file-removing steps diff MERGED content: a removed dirty
        // file's already-dead rows must not report as DELETEs again
        // (applyDeletes and dirty-table compactions net to ZERO this
        // way; a COW-over-dirty DML nets exactly its own row changes)
        def mergedRemoved(files: Seq[String]): DataFrame =
          if (pendingBefore.isEmpty) readFiles(name, files)
          else applyDeleteEntries(readFiles(name, files, withPos = true), name, pendingBefore)
            .drop(TableIO.PosFileCol, TableIO.PosIdxCol)
        // Same-commit adds scoped by the commit's OWN new entries —
        // fastForward publishing a dirty branch whose MOR deletes hit
        // branch-APPENDED files: the NET contract demands a row added
        // and killed in one commit emit NOTHING. Subtract those kills
        // from the added-file INSERT frame and keep rowsKilledBy to
        // pre-commit files only; an INSERT/DELETE pair at equal
        // version would resurrect the dead row under the key-replay
        // convention (INSERT beats DELETE at equal version, q136).
        def normF(p: String): String =
          Paths.get(p).toAbsolutePath.normalize.toString
        val addedKeys = added.map(normF).toSet
        val entriesOnAdded =
          newEntries.filter(_.dirtyFiles.exists(f => addedKeys(normF(f))))
        def liveAdded(): DataFrame =
          if (entriesOnAdded.isEmpty) readFiles(name, added)
          else applyDeleteEntries(
            readFiles(name, added, withPos = true), name, entriesOnAdded)
            .drop(TableIO.PosFileCol, TableIO.PosIdxCol)
        val killed =
          if (newEntries.isEmpty) None
          else if (newEntries.flatMap(_.dirtyFiles).map(normF).distinct
                     .forall(addedKeys)) None
          else Some(rowsKilledBy(name, newEntries, pendingBefore,
            excludeFiles = addedKeys))
        val fileDiff = (added.nonEmpty, removed.nonEmpty) match {
          case (false, false) => None
          case (true, false) => Some(tag(liveAdded(), "INSERT"))
          case (false, true) => Some(tag(mergedRemoved(removed), "DELETE"))
          case (true, true) =>
            val (a, r) = align(liveAdded(), mergedRemoved(removed))
            Some(tag(a.exceptAll(r), "INSERT").unionByName(tag(r.exceptAll(a), "DELETE")))
        }
        fileDiff.toSeq ++ killed.map(tag(_, "DELETE")).toSeq
      }
    }
    if (steps.isEmpty)
      readFiles(name, manifestOrReject(to)).limit(0)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_change_version", lit(null).cast("int"))
    else steps.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read an explicit subset of the current snapshot's files (same
    * aliasing/merge behavior as `readVersion`) — the scoped-rewrite
    * primitive: mutate only the files a predicate can touch.
    *
    * Tables WITH a declared schema (CTAS / ALTER TABLE) read under that
    * schema instead of a footer merge. Beyond letting ADD COLUMN
    * surface before any file carries the column, this reconciles TYPE
    * DRIFT that `mergeSchema` rejects outright: parquet footers that
    * disagree int-vs-long or float-vs-double (the drifted-monthly-file
    * scenario, SURVEY.md §7 risk 5) fail `StructType.merge`, while the
    * Spark 4 parquet reader widens narrower physical types up to the
    * declared type per file. Schema-on-read tables (no declared meta)
    * keep mergeSchema semantics.
    */
  private[graft] def readFiles(name: String, files: Seq[String],
                               withPos: Boolean = false): DataFrame = {
    val meta = catalog.readMeta(name)
    if (files.isEmpty)
      meta.schemaJson
        .map(js => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.DataType.fromJson(js)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
        .getOrElse(spark.emptyDataFrame)
    else {
      // declared schema is in LOGICAL names; the scan needs the
      // on-disk PHYSICAL names (renames are metadata-only). Without
      // one, the files' schemas are merged. The manifest already names
      // every file, so the scan is built from it without a listing job.
      val physical = meta.schemaJson.map { js =>
        val declared = org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        org.apache.spark.sql.types.StructType(declared.fields.map(f =>
          meta.renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
      }
      val scanned = org.apache.spark.sql.GraftManifestScan.parquet(spark, files,
        Map("basePath" -> catalog.dataPath(name)) ++
          (if (physical.isEmpty) Map("mergeSchema" -> "true") else Map.empty),
        physical)
      // position-delete bookkeeping columns, materialized straight off
      // the scan's hidden _metadata struct (before renames/drops):
      // the rename-stable file key plus the row's ordinal in its file
      val raw =
        if (!withPos) scanned
        else scanned
          .withColumn(TableIO.PosFileCol, TableIO.fileKeyExpr)
          .withColumn(TableIO.PosIdxCol, col("_metadata.row_index"))
      // alias on-disk physical names back to their current logical
      // names (ALTER TABLE RENAME COLUMN is metadata-only)
      val logical = meta.renames.foldLeft(raw) { case (df, (logical, physical)) =>
        df.withColumnRenamed(physical, logical)
      }
      // hidden layout columns (pspec-derived, re-injected by partition
      // discovery) never reach the logical schema; identity transforms
      // keep their source column, which IS the logical column. The
      // `gp_` prefix is RESERVED for layout columns, so any partition
      // dir column carrying it is dropped even when it belongs to a
      // superseded spec (respecTable rewrites the layout, but prior
      // versions keep their old-layout files for time travel).
      val hidden = meta.partitionSpec.map(PartitionTransforms.parse).collect {
        case t if !t.isInstanceOf[PartitionTransforms.Identity] => t.derivedName
      } ++ logical.columns.filter(_.startsWith(PartitionTransforms.Prefix))
      if (hidden.isEmpty) logical else logical.drop(hidden.distinct: _*)
    }
  }

  /** Commit-time stats (the manifest-stats half of the file-skip
    * design): read the JUST-WRITTEN files' footers once — they are hot
    * in the page cache — and carry surviving files' stats forward from
    * the previous manifest, so plan-time pruning works from the
    * manifest alone and never re-opens a footer. A file whose footer
    * read fails simply ships without stats (consumers fall back to
    * reading it at plan time — conservative, never wrong).
    */
  private def commitStats(name: String, kept: Seq[String], newFiles: Seq[String],
                          ref: Ref = Ref.Main): Map[String, Map[String, FileStats.ColStats]] =
    Timers.time("commit.stats")(
      catalog.statsForCommit(name, kept, newFiles, spark.sessionState.newHadoopConf(), ref))

  /** Commit `df`'s rows as the replacement for everything of
    * `baseVersion` EXCEPT `keepFiles`, which carry into the new
    * manifest verbatim — the commit half of a file-scoped copy-on-write
    * mutation on `ref`. PINNED at baseVersion+1: a concurrent writer
    * landing in between surfaces as ConcurrentCommitException (or, on
    * main, a validated rebase — see [[commitReplacementFiles]]) instead
    * of having its files silently dropped from the kept list. Returns
    * the committed version.
    */
  private[graft] def commitReplacement(df: DataFrame, name: String,
                                       keepFiles: Seq[String],
                                       partitionCols: Seq[String],
                                       baseVersion: Int,
                                       props: Map[String, String] = Map.empty,
                                       newcomerConflicts: Option[String => Boolean] = None,
                                       ref: Ref = Ref.Main): Int =
    catalog.locked(name) {
      val newFiles = stageWrite(toPhysical(df, name), name, partitionCols)
      commitReplacementFiles(name, keepFiles, newFiles, baseVersion, props,
        newcomerConflicts, ref)
    }

  /** The REPLACEMENT rule of the commit loop
    * ([[TableCatalog.commitLoop]], Iceberg's retry with revalidation):
    * the first attempt is PINNED at `baseVersion + 1` and commits the
    * kept files plus the replacement files; when a racer landed in
    * between, the conflict is adjudicated by FILE OVERLAP —
    *
    *   - every file this rewrite REPLACED is still in the racer's
    *     manifest, and no pending merge-on-read delete of the racer's
    *     head references one -> REBASE: the new manifest is the
    *     racer's file list minus the replaced set plus the
    *     replacement files (an append-vs-compact race: both land,
    *     nobody re-runs, nothing lost — this also covers a racer that
    *     removed a KEPT file, whose removal survives the rebase);
    *   - a replaced file is gone from the racer's manifest (it
    *     rewrote or deleted the same rows), or a racer MOR delete
    *     targets one -> REFUSE by name (rebasing would resurrect or
    *     lose rows — the caller re-runs against the new snapshot,
    *     Iceberg's serializable behavior).
    *
    * `newcomerConflicts` is Iceberg's conflict-detection filter
    * (serializable isolation for row-REMOVING commands): when set, a
    * racer's NEW file that might hold rows the command's predicate
    * selects kills the rebase — a cross-process append of matching
    * rows landing between a DELETE/UPDATE's scan and its commit must
    * surface, not silently survive a "successful" DELETE (the same
    * check the SQL row-level commit performs too). None = row-preserving
    * rewrite (compact family, upsert's last-write-wins apply) —
    * rebasing is order-equivalent, rebase freely.
    *
    * Only main rebases ([[Ref.rebases]]): a branch replacement that
    * lost its pinned commit refuses with the conflict. And a replacement
    * whose `props` carry pending deletes (the trimmed entries of a
    * rewrite over a dirty base) never rebases: its deletes prop was
    * computed against the pinned base and would overwrite the racer's
    * entries — it refuses, and the caller re-runs.
    */
  private[io] def commitReplacementFiles(name: String, keepFiles: Seq[String],
                                         newFiles: Seq[String], baseVersion: Int,
                                         props: Map[String, String],
                                         newcomerConflicts: Option[String => Boolean] = None,
                                         ref: Ref = Ref.Main): Int = {
    def norm(f: String): String = Paths.get(f).toAbsolutePath.normalize.toString
    val baseSet: Set[String] =
      (try catalog.manifest(name, baseVersion, ref)
       catch { case scala.util.control.NonFatal(_) => Seq.empty[String] })
        .map(norm).toSet
    val replaced: Set[String] = baseSet -- keepFiles.map(norm)
    catalog.commitLoop(name, ref, props, Some(baseVersion)) {
      case (_, None) =>
        Some(TableCatalog.Commit(keepFiles ++ newFiles, Map.empty,
          commitStats(name, keepFiles, newFiles, ref)))
      case (cur, Some(lost)) =>
        if (!ref.rebases || props.contains(TableCatalog.DeletesProp)) throw lost
        val curFiles = catalog.manifest(name, cur, ref)
        val curSet = curFiles.map(norm).toSet
        val overlapped = replaced.filterNot(curSet)
        if (overlapped.nonEmpty)
          throw new ConcurrentCommitException(
            s"concurrent commit to $name: another writer removed or rewrote " +
              s"${overlapped.size} of the files this rewrite replaced " +
              s"(e.g. ${overlapped.head}) — rebasing would lose or resurrect rows; " +
              "re-run the operation against the new snapshot")
        val racerDeletes =
          try catalog.pendingDeletes(name, cur, ref)
          catch { case scala.util.control.NonFatal(_) =>
            Seq.empty[TableCatalog.DeleteEntry] }
        if (racerDeletes.exists(_.dirtyFiles.map(norm).exists(replaced)))
          throw new ConcurrentCommitException(
            s"concurrent commit to $name: a racing merge-on-read delete targets files " +
              "this rewrite replaced — rebasing would resurrect its deleted rows; " +
              "re-run the operation against the new snapshot")
        // conflict-detection filter (serializable check for
        // row-removing commands): a racer-ADDED file that might hold
        // predicate-matching rows must not ride the rebase
        newcomerConflicts.foreach { mayConflict =>
          val conflicting = Timers.time("dml.conflictProbe")(
            curFiles.filter(f => !baseSet(norm(f)) && mayConflict(f)))
          if (conflicting.nonEmpty)
            throw new ConcurrentCommitException(
              s"concurrent commit to $name: a racing writer added ${conflicting.size} " +
                s"file(s) that may hold rows this command's predicate selects " +
                s"(e.g. ${conflicting.head}) — rebasing would let them silently " +
                "survive the DELETE/UPDATE; re-run against the new snapshot")
        }
        val keep = curFiles.filterNot(f => replaced(norm(f)))
        // surviving racer deletes (disjoint from the replaced set by
        // the check above) ride the rebased commit
        Some(TableCatalog.Commit(keep ++ newFiles, catalog.deletesCarry(name, cur, ref),
          commitStats(name, keep, newFiles, ref)))
    }
  }

  /** METADATA-ONLY DELETE commit (Iceberg's metadata delete): the new
    * snapshot is the base manifest minus the dropped files — nothing
    * is read, nothing is written. Callers have already PROVEN every
    * row of every dropped file matches the predicate
    * ([[FileScope.mustMatchAll]]); dropped files stay on disk for time
    * travel until snapshot expiry + GC, like any logical overwrite.
    * No `graft.op` stamp: this removes DATA, so changelog/stream
    * consumers must treat it exactly like a COW delete commit.
    */
  private[graft] def commitMetadataDelete(name: String, keepFiles: Seq[String],
                                          baseVersion: Int,
                                          newcomerConflicts: Option[String => Boolean] = None,
                                          ref: Ref = Ref.Main,
                                          props: Map[String, String] = Map.empty): Unit =
    catalog.locked(name) {
      commitReplacementFiles(name, keepFiles, Seq.empty, baseVersion, props,
        newcomerConflicts, ref)
      ()
    }

  /** THE copy-on-write row-level executor, shared by [[deleteWhere]],
    * [[updateWhere]] and SQL `DELETE FROM` (GraftTable.deleteWhere).
    * Scoped by [[scopeFor]]: files the predicate provably cannot touch
    * carry into the new manifest verbatim; with `dropCovered` (DELETE)
    * files whose every row provably matches drop as METADATA ONLY —
    * nothing read, nothing written (Iceberg's metadata delete); only the
    * remaining candidates are read deletes-merged, passed through
    * `rewrite` (plus the table's checks and write order) and committed
    * as their replacement under the table's layout. Over a dirty base
    * the replaced files' pending entries are consumed (their rows were
    * read merged) and the carried files' entries ride the commit
    * trimmed ([[trimDeletesForRewrite]]). Pinned at `baseVersion` (the
    * head by default) with the command's conflict-detection filter — see
    * [[commitReplacementFiles]]. Nothing touched = a no-op, no snapshot.
    */
  private[io] def rewriteWhere(name: String, cond: org.apache.spark.sql.Column, ref: Ref,
                               partitionCols: Seq[String], dropCovered: Boolean,
                               filters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
                               baseVersion: Option[Int] = None)
                              (rewrite: DataFrame => DataFrame): Unit = {
    val v = baseVersion.getOrElse(catalog.head(name, ref))
    val s = scopeFor(name, v, ref, cond, filters, prove = dropCovered)
    if (s.touched.isEmpty) return
    val pending = catalog.pendingDeletes(name, v, ref)
    val props =
      if (pending.isEmpty) Map.empty[String, String]
      else trimDeletesForRewrite(name, pending, s.carried)
    if (s.candidates.isEmpty)
      commitMetadataDelete(name, s.carried, v, Some(s.conflicts), ref, props)
    else {
      // replacements keep the table's layout: the hidden spec derives
      // its own, a Hive layout its dir columns (a mixed one writes flat)
      val pcols =
        if (partitionCols.nonEmpty || catalog.readMeta(name).partitionSpec.nonEmpty) partitionCols
        else sharedLayoutOf(name, s.carried ++ s.touched)
      val out = rewrite(mergeDeletes(name, s.candidates, pending))
      commitReplacement(applyWriteOrder(applyChecks(out, name), name), name, s.carried, pcols,
        v, props, Some(s.conflicts), ref)
      ()
    }
  }

  /** Row-level UPSERT (last-write-wins by key): every key present in
    * `rows` is replaced by its `rows` row(s); all other rows are
    * untouched. The CDC-apply primitive the streaming upsert sink
    * (`TableSink.upsertStream`) commits per micro-batch.
    *
    * Scale shape — this is where the stats/bloom layer pays off for
    * writes: the batch's key set becomes an IN filter evaluated
    * against the table's [[FileScope]] (manifest stats — min/max AND
    * the optional per-file bloom from [[addBloomIndex]] — plus layout
    * dirs), so only files that can possibly hold an affected key are
    * read and rewritten — a 1000-key batch against a 100k-file table rewrites
    * a handful of files, not the table. Conservative everywhere: key
    * sets above `maxScopedKeys` (driver-collect bound) or stats-less
    * files degrade to rewriting more files, never to wrong rows.
    *
    * `rows` is taken as the authoritative new value set: callers apply
    * their own within-batch last-write-wins reduction first (the
    * streaming sink does), and duplicate keys in `rows` land as
    * duplicate rows.
    */
  def upsert(name: String, rows: DataFrame, keyCols: Seq[String],
             partitionCols: Seq[String] = Seq.empty,
             props: Map[String, String] = Map.empty,
             maxScopedKeys: Int = 100000): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    // the batch has up to four consumers (null-key guard, key collect,
    // anti-join key set, the union into the rewrite) — pin it FIRST so
    // a non-trivial upstream (a streaming micro-batch's window
    // reduction) runs once, and so the rows the guard validated are
    // the rows that commit (a nondeterministic source recomputed after
    // the check could smuggle NULL keys past it)
    val pinned = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE probe job fuses the NULL-key guard with the scoped-rewrite
      // key collect (r21 verdict item 5 — the MOR path's fused-
      // validation pattern): distinct first-key groups each carry a
      // count of rows violating the null-key rule, ordered violations-
      // first so the TakeOrdered head is exhaustive — if ANY group
      // anywhere held a NULL key it sorts into position 1, regardless
      // of how many distinct keys the limit cuts. NULL keys cannot
      // upsert: the anti-join's equality never matches NULL, so a
      // NULL-key row would DUPLICATE on every batch instead of
      // replacing — reject loudly up front. The probe doubles as the
      // cache materialization.
      val keyNull = keyCols.map(k =>
        org.apache.spark.sql.functions.col(k).isNull).reduce(_ || _)
      val keyVals: Option[Array[Any]] =
        try {
          import org.apache.spark.sql.functions.{col, count, desc, lit, when}
          val groups = pinned
            .groupBy(col(keyCols.head).as("__k0"))
            .agg(count(when(keyNull, lit(1))).as("__nulls"))
            .orderBy(desc("__nulls"))
            .limit(maxScopedKeys + 1)
            .collect()
          require(groups.isEmpty || groups.head.getLong(1) == 0L,
            s"upsert into $name: key columns (${keyCols.mkString(",")}) must be non-null")
          if (groups.length > maxScopedKeys) None else Some(groups.map(_.get(0)))
        } catch {
          case e: IllegalArgumentException => throw e
          case scala.util.control.NonFatal(_) =>
            // probe failed for an unrelated reason: re-run the guard
            // standalone (the check must NEVER be skipped), fall back
            // to the unscoped rewrite
            require(pinned.filter(keyNull).isEmpty,
              s"upsert into $name: key columns (${keyCols.mkString(",")}) must be non-null")
            None
        }
      val base = catalog.currentVersion(name)
      if (base.isEmpty) { append(pinned, name, partitionCols, props); return }
      val v = base.get
      // the scoped rewrite reads candidate files RAW and carries the
      // rest verbatim — running it over pending position deletes would
      // resurrect deleted rows in the rewritten files. Loud over wrong.
      require(catalog.pendingDeletes(name, v).isEmpty,
        s"upsert into $name: snapshot $v has pending position deletes — " +
          "run applyDeletes first")
      val snap = catalog.snapshot(name, v)
      val files = snap.files
      FileStats.prime(snap.statsByFile)
      // scoping (computed by the fused probe above) is by the FIRST
      // key column's value set — sound for compound keys: a file with
      // no first-key match holds no affected row.
      // an EMPTY batch touches nothing: In(key, []) reads as "might
      // match anything" to the stats layer, which would turn a routine
      // empty micro-batch into a full-table rewrite. No data moves at
      // all: an append of no files carries the head forward with the
      // (mark-bearing) props — writing an empty parquet file per idle
      // micro-batch would otherwise grow the manifest forever.
      if (keyVals.exists(_.isEmpty)) {
        if (props.nonEmpty)
          catalog.locked(name)(commitOnto(name, Ref.Main, Seq.empty, Map.empty, props, Some(v)))
        return
      }
      val (kept, candidates) = keyVals match {
        case None => (Seq.empty[String], files) // unscoped: rewrite-all fallback
        case Some(vals) =>
          val filter = Seq(org.apache.spark.sql.sources.In(keyCols.head, vals))
          val scope = fileScopeOf(name, files, pinned.schema)
          Timers.time("dml.pruneProbe")(files.partition(f => !scope.mightMatch(f, filter)))
      }
      // the cached batch's partition layout (e.g. 32 post-shuffle
      // partitions of a streaming micro-batch) bypasses AQE
      // coalescing and would stage one KB-sized file per partition;
      // a scoped batch is bounded by maxScopedKeys, so one write task
      // is the right shape — unscoped (keyVals None) batches keep
      // their parallel layout
      val batchOut = if (keyVals.isDefined) pinned.coalesce(1) else pinned
      val survivors =
        if (candidates.isEmpty) batchOut
        else readFiles(name, candidates)
          .join(pinned.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct(),
            keyCols, "left_anti")
          .unionByName(batchOut)
      commitReplacement(survivors, name, kept, partitionCols, v, props)
    } finally { pinned.unpersist(); () }
  }

  /** Append data files to `ref` and commit its next snapshot. Main is
    * created on first append; a branch must already exist — a typo'd
    * branch name fails loudly instead of silently forking (overwrite
    * and the MOR writers fork on first write). `props` ride inside the
    * manifest commit (atomic with the file list) — see
    * `TableCatalog.manifestProps`. Returns the committed version (the
    * head, when a replayed stream batch is recognized as already in).
    */
  def append(df: DataFrame, name: String, partitionCols: Seq[String] = Seq.empty,
             props: Map[String, String] = Map.empty, ref: Ref = Ref.Main): Int =
    write(df, name, append = true, partitionCols, props, ref)

  /** Logical full replace of `ref`'s head: new files, new manifest
    * referencing only them; prior snapshots (and every other ref) keep
    * reading their files. Forks a branch at main's current snapshot on
    * first write (WAP semantics). `props` ride the manifest commit
    * atomically (e.g. a streaming batch mark — the additive sketch
    * sink's exactly-once guard).
    */
  def overwrite(df: DataFrame, name: String, partitionCols: Seq[String] = Seq.empty,
                props: Map[String, String] = Map.empty, ref: Ref = Ref.Main): Int =
    write(df, name, append = false, partitionCols, props, ref)

  // ---- Write-audit-publish (Iceberg's WAP pattern). An ingest job
  // appendStage()s its output, an audit job readStaged()s the
  // would-be table (current ∪ staged) and runs its checks, then the
  // batch is publishStaged()ed into a real snapshot — or
  // discardStaged()ed, with GC reclaiming the bytes. Readers NEVER
  // see unaudited rows; the data is written exactly once (publish is
  // a metadata-only commit of the already-staged files).

  /** Stage an append without publishing it: data files land in the
    * table's data dir, the staged manifest records them (with stats),
    * and reads of the table are unaffected. Returns the stage id.
    *
    * Under the per-table write lock for the move -> staged-manifest
    * span, same as `write`: a same-JVM GC sweep must never interleave
    * with the window where moved files are referenced by no manifest
    * yet (the age guard only protects against OTHER processes).
    */
  def appendStaged(df: DataFrame, name: String, partitionCols: Seq[String] = Seq.empty): String =
    catalog.locked(name) {
      val newFiles = stageWrite(toPhysical(df, name), name, partitionCols)
      catalog.writeStaged(name, newFiles, commitStats(name, Seq.empty, newFiles))
    }

  /** The audit view: `ref` as it WOULD read after publishing the
    * staged snapshot onto it (head files ∪ staged files).
    */
  def readStaged(name: String, id: String, ref: Ref = Ref.Main): DataFrame = {
    val cur = catalog.currentVersion(name, ref).map(catalog.manifest(name, _, ref))
      .getOrElse(Seq.empty)
    readFiles(name, (cur ++ catalog.stagedManifest(name, id)).distinct)
  }

  /** Publish a staged snapshot onto `ref`: fold its files into a new
    * head (optimistic append loop — concurrent appends are retried
    * over, same as `write`), then drop the staged manifest. Metadata
    * only: no data file is moved or rewritten. Rejects loudly if the
    * stage id is unknown (already published or discarded) or the
    * branch does not exist.
    */
  def publishStaged(name: String, id: String, ref: Ref = Ref.Main): Int = catalog.locked(name) {
    val staged =
      try catalog.stagedSnapshot(name, id)
      catch {
        case _: java.nio.file.NoSuchFileException => throw new IllegalArgumentException(
          s"publish of $name: staged snapshot $id does not exist (already published or discarded?)")
      }
    val published = commitOnto(name, ref, staged.files, staged.statsByFile, Map.empty)
    catalog.deleteStaged(name, id)
    published
  }

  /** Discard a staged snapshot: the manifest goes now, the bytes go
    * with the next (age-guarded) GC sweep. Returns whether it existed.
    */
  def discardStaged(name: String, id: String): Boolean =
    catalog.deleteStaged(name, id)

  // ---- Branches: multi-commit writable refs (Iceberg branch
  // semantics — `CREATE BRANCH` / write-to-branch / `fast_forward`).
  // WAP covers one staged batch; a branch accumulates SEVERAL commits
  // (a week of experimental ingests, a multi-batch audit) before main
  // integrates them in one metadata-only fast-forward — or drops them
  // wholesale. Every writer and reader takes the branch as its `ref`;
  // data files are shared with the table's data dir; main is
  // byte-identical until fast-forward; GC counts branch manifests as
  // live (see removeOrphanFiles).

  /** Create `branch` at the table's current snapshot — see
    * [[TableCatalog.createBranch]] (metadata-only).
    */
  def createBranch(name: String, branch: String): Int =
    catalog.createBranch(name, branch)

  /** Fast-forward MAIN to the branch head — see
    * [[TableCatalog.fastForward]] (metadata-only; refuses divergence).
    */
  def fastForward(name: String, branch: String): Int =
    catalog.fastForward(name, branch)

  /** Drop the branch chain; unshared files become GC orphans. */
  def dropBranch(name: String, branch: String): Boolean =
    catalog.dropBranch(name, branch)

  /** Dynamic partition-level overwrite — the reference's
    * `overwritePartition` (DimensionJob.scala:58,90;
    * AggregationJob.scala:87-90): exactly the partitions PRESENT IN
    * `df` are replaced; every other partition's files carry over into
    * the new manifest byte-identical (they are never rewritten, only
    * re-referenced). Untouched-partition reads and prior snapshots are
    * unaffected. This is the incremental daily-rebuild primitive:
    * re-running one date partition commits O(that partition).
    */
  def overwritePartition(df: DataFrame, name: String, partitionCols: Seq[String]): Unit = {
    // partition-swap semantics need VISIBLE partition values; a hidden
    // spec's layout values are derived — use updateWhere/overwrite
    require(catalog.readMeta(name).partitionSpec.isEmpty,
      s"overwritePartition on $name: table has a hidden partition spec; " +
        "use overwrite or updateWhere instead")
    catalog.locked(name)(overwritePartitionLocked(df, name, partitionCols))
  }

  private def overwritePartitionLocked(df: DataFrame, name: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "overwritePartition requires partition columns")
    // kept (untouched-partition) files would carry without their
    // pending position deletes — and carrying the full prop would
    // break rowCount's every-delete-row-targets-a-live-file invariant
    // for the replaced partitions. Loud over wrong, like upsert.
    catalog.currentVersion(name).foreach(v =>
      require(catalog.pendingDeletes(name, v).isEmpty,
        s"overwritePartition on $name: snapshot $v has pending position deletes — " +
          "run applyDeletes first"))
    val newFiles = stageWrite(toPhysical(df, name), name, partitionCols)
    val touched = newFiles.map(partitionKeyOf(name, _)).toSet
    val base = catalog.currentVersion(name)
    val prev = base.map(catalog.manifest(name, _)).getOrElse(Seq.empty)
    val kept = prev.filterNot(f => touched.contains(partitionKeyOf(name, f)))
    // pinned at the version whose file list was read: a cross-process
    // append landing in between must fail fast, not have its files
    // dropped from the kept list (the JVM lock only covers this process)
    catalog.commitSnapshotAt(name, kept ++ newFiles, base.getOrElse(0) + 1,
      stats = commitStats(name, kept, newFiles))
    ()
  }

  /** Partition columns of the table's CURRENT physical layout, derived
    * from the manifest's file paths (`col=value` segments) —
    * authoritative for path-created tables, which carry no declared
    * pcols metadata. Compaction rewrites use this when the caller
    * passes no explicit columns, so a partitioned table can never be
    * silently rewritten flat (flat files have empty partition keys
    * that a later `overwritePartition` cannot replace — duplicated
    * rows).
    */
  private def layoutPartitionCols(name: String, ref: Ref = Ref.Main): Seq[String] =
    layoutPartitionColsOf(name,
      catalog.currentVersion(name, ref).map(v => catalog.manifest(name, v, ref)).getOrElse(Seq.empty))

  /** Derive the layout from EVERY file in `files`, not the first: a
    * mixed-layout file set (flat legacy append followed by partitioned
    * appends) must fail loudly here — trusting one file would let
    * compact/compactSorted/compactZOrder silently
    * rewrite under the wrong layout (flat first file -> flat rewrite
    * -> the duplicated-rows-after-overwritePartition hazard this
    * helper exists to prevent).
    */
  private def layoutPartitionColsOf(name: String, files: Seq[String]): Seq[String] =
    layoutsOf(name, files) match {
      case Seq() => Seq.empty
      case Seq(one) => one
      case many => throw new IllegalStateException(
        s"table $name has files under ${many.size} different partition layouts " +
          s"(${many.map(l => if (l.isEmpty) "<flat>" else l.mkString("/")).mkString(", ")}); " +
          "pass partitionCols explicitly to choose the rewrite layout")
    }

  /** The Hive layout every file of `files` shares — empty for a flat or
    * a mixed set (a file scope then proves nothing by directory, and a
    * row-level rewrite writes flat, as it always did).
    */
  private def sharedLayoutOf(name: String, files: Seq[String]): Seq[String] =
    layoutsOf(name, files) match {
      case Seq(one) => one
      case _ => Seq.empty
    }

  private def layoutsOf(name: String, files: Seq[String]): Seq[Seq[String]] =
    files.map(f => partitionKeyOf(name, f).map(_.takeWhile(_ != '='))).distinct

  /** Hive-style partition key of a data file: its `col=value` path
    * segments relative to the table's data dir (empty for
    * unpartitioned files).
    */
  private def partitionKeyOf(name: String, file: String): Seq[String] = {
    val data = Paths.get(catalog.dataPath(name)).toAbsolutePath.normalize
    val rel = data.relativize(Paths.get(file).toAbsolutePath.normalize)
    (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
      .filter(_.contains('='))
  }

  /** Build a per-file BLOOM membership index over `column` and commit
    * it as a METADATA-ONLY snapshot (same data files, stats augmented)
    * — the secondary-index layer Iceberg ships as Puffin blobs. Range
    * (min/max) stats cannot prune a point lookup when keys are
    * scattered: every file spans the whole domain, so `WHERE k = v`
    * scans the table. The bloom answers "is v possibly in THIS file"
    * per file at planning time; `FileStats.mightMatch` consults it for
    * Equal/In filters, so catalog scans and copy-on-write DML scoping
    * both skip — false positives cost one extra file scan, false
    * negatives cannot happen.
    *
    * Scale shape: blooms build DISTRIBUTED (one scan of just the key
    * column, grouped by `input_file_name`) and only the serialized
    * bitsets come to the driver — `fpp`=1% costs ~1.2 MB per million
    * rows per file, the documented driver/manifest bound (index a key
    * column per partition of files, not a 100k-file table in one call
    * — the call is INCREMENTAL: files already carrying a bloom for
    * `column` are skipped, so re-running after appends only indexes
    * the new files).
    *
    * The index is built over `CAST(column AS STRING)` so build and
    * plan-time probe share one canonical form (see
    * `FileStats.canonicalKey`). Returns the number of files indexed
    * (0 = index already complete).
    */
  def addBloomIndex(name: String, column: String, fpp: Double = 0.01): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    // logical -> physical: data files (and their stats) carry at-birth
    // column names under renames; validate against the LOGICAL schema
    // so a typo'd column fails loudly instead of reading as "index
    // already complete" (files_indexed = 0)
    val phys = catalog.renames(name).getOrElse(column, column)
    require(read(name).columns.contains(column),
      s"no such column in $name: $column")
    // The build reads a stale snapshot if a writer commits mid-build,
    // so: same-JVM writers serialize on the per-table write lock, and
    // the commit pins the version read at the start — a CROSS-process
    // writer racing the build makes this throw ConcurrentCommitException
    // (retry the call) instead of silently committing a file list that
    // drops the concurrent writer's files.
    catalog.locked(name) {
      val v = catalog.head(name)
      val snap = catalog.snapshot(name, v)
      val files = snap.files
      val conf = spark.sessionState.newHadoopConf()
      val prev = snap.statsByFile
      // stats base per file: manifest-carried, else one footer read —
      // a bloom only attaches NEXT TO a base entry (decode contract)
      def baseStats(f: String): Map[String, FileStats.ColStats] =
        prev.getOrElse(f,
          try FileStats.read(f, conf)
          catch { case scala.util.control.NonFatal(_) =>
            Map.empty[String, FileStats.ColStats] })
      val statsByFile = files.map(f => f -> baseStats(f)).toMap
      val missing = files.filter(f =>
        statsByFile(f).get(phys).exists(_.bloom.isEmpty))
      if (missing.isEmpty) 0
      else {
        // one sizing for every per-file sketch (merge requires it): the
        // largest file's row count, so smaller files over-deliver on fpp
        val maxRows = missing.map(f =>
          statsByFile(f).get(phys).map(_.rowCount)
            .getOrElse(FileStats.rowCount(f, conf))).max.max(1L)
        // graft_bloom_agg is session-registered by GraftExtensions; going
        // through the SQL name keeps this free of catalyst internals
        val agg = org.apache.spark.sql.functions.expr(
          s"graft_bloom_agg(_graft_key, ${maxRows}L, $fpp)")
        def normalize(p: String): String =
          try {
            val u = new java.net.URI(p)
            if (u.getScheme == null) Paths.get(p).toAbsolutePath.normalize.toString
            else Paths.get(u.getPath).toAbsolutePath.normalize.toString
          } catch { case scala.util.control.NonFatal(_) => p }
        val built = spark.read.parquet(missing: _*)
          .select(input_file_name().as("_graft_file"),
            col(phys).cast("string").as("_graft_key"))
          .groupBy("_graft_file").agg(agg.as("_graft_bloom"))
          .collect()
          .map(r => normalize(r.getString(0)) -> r.getAs[Array[Byte]](1)).toMap
        val augmented = files.map { f =>
          val cols = statsByFile(f)
          val withBloom = built.get(normalize(f)) match {
            case Some(b) if cols.contains(phys) =>
              cols.updated(phys, cols(phys).copy(bloom = Some(b)))
            case _ => cols
          }
          f -> withBloom
        }.toMap
        val props = snap.props +
          (s"graft.bloom.$phys.fpp" -> fpp.toString)
        catalog.commitSnapshotAt(name, files, v + 1, props, augmented)
        FileStats.prime(augmented) // same-JVM readers see the index immediately
        missing.size
      }
    }
  }

  /** Small-file compaction of `ref`'s head: rewrite it to one file
    * per Hive partition (clustering the shuffle on the partition
    * columns), or `targetFiles` files for an unpartitioned table, and
    * commit the rewrite as a new snapshot — the maintenance append-heavy
    * ingestion (and a long-lived streaming-ingest branch) needs, since
    * every append adds files and listing/planning dominate at scale.
    * Logical like every commit: the small files stay on disk for older
    * snapshots until `expireSnapshots` + `removeOrphanFiles` reclaims
    * them. On a branch, run it between integration cycles —
    * fastForward's rebase record resets the fork point, so a
    * post-integration compaction never trips the divergence check.
    * Returns the committed version.
    */
  def compact(name: String, partitionCols: Seq[String] = Seq.empty,
              targetFiles: Int = 1, ref: Ref = Ref.Main): Int = {
    val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name, ref)
    // PINNED at the version the rewrite read (not a blind overwrite):
    // a racing cross-process append surfaces as a version conflict and
    // REBASES on main (the appended files ride into the compacted
    // manifest) instead of being silently dropped from the new
    // snapshot; a racing overlapping rewrite refuses by name. See
    // commitReplacementFiles. readVersion merges pending MOR deletes,
    // so compacting a dirty snapshot materializes them (prop cleared
    // by the replacement commit).
    val v = catalog.head(name, ref)
    val df = readVersion(name, v, ref)
    commitReplacement(
      applyWriteOrder(clusterByLayout(df, name, pcols, targetFiles), name),
      name, Seq.empty, pcols, baseVersion = v,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite), ref = ref)
  }

  /** Predicate-scoped compaction (Iceberg's `rewrite_data_files`
    * with a where clause / Delta's `OPTIMIZE ... WHERE`): rewrite ONLY
    * the files the predicate can touch — scoped by the same
    * manifest-stats + hidden-layout pruning the read path uses — and
    * carry everything else verbatim. A 100 TB table compacts
    * yesterday's partition for yesterday's bytes, never the table's.
    * Content-preserving (candidate files rewrite WHOLLY, rows are
    * never filtered), so the commit carries the `graft.op = rewrite`
    * stamp and `skipRewriteCommits` streams ride through it. Refuses
    * pending MOR deletes: `applyDeletes` already compacts dirty files,
    * run it first. Returns the number of files rewritten (0 = no-op,
    * no new snapshot).
    */
  def compactWhere(name: String, cond: org.apache.spark.sql.Column,
                   targetFiles: Int = 1,
                   partitionCols: Seq[String] = Seq.empty): Int = {
    val v = catalog.head(name)
    require(catalog.pendingDeletes(name, v).isEmpty,
      s"compactWhere on $name: snapshot $v carries pending merge-on-read deletes — " +
        "run applyDeletes first (its rewrite already compacts the dirty files)")
    val s = scopeFor(name, v, Ref.Main, cond)
    val candidates = s.touched
    if (candidates.isEmpty) return 0
    val kept = s.carried
    val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name)
    val out = clusterByLayout(readFiles(name, candidates), name, pcols, targetFiles)
    commitReplacement(out, name, kept, pcols, baseVersion = v,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
    candidates.size
  }

  /** Cluster a rewrite by the table's layout so each partition gets
    * few large files: by the hidden spec's DERIVED values when one is
    * declared (the logical frame no longer carries the layout
    * columns), else by the explicit partition columns, else flat to
    * `targetFiles`.
    */
  private def clusterByLayout(df: DataFrame, name: String,
                              pcols: Seq[String], targetFiles: Int): DataFrame = {
    val specs = catalog.readMeta(name).partitionSpec.map(PartitionTransforms.parse)
    if (specs.nonEmpty)
      df.repartition(specs.map(t => t.column(col(t.src), df.schema(t.src).dataType)): _*)
    else if (pcols.nonEmpty) df.repartition(pcols.map(col): _*)
    else df.repartition(targetFiles)
  }

  /** Sort-clustered compaction (Iceberg's sort-order rewrite): rewrite
    * the current snapshot range-partitioned AND sorted on `sortCols`,
    * so the output files tile the key space disjointly and parquet
    * footer min/max stats make plan-time file skipping
    * (graft.io.FileStats) effective — a point or range predicate on
    * the leading sort column scans O(matching files), not the table.
    * At 100 TB this is what turns "filter on ship_date" from a
    * full-table scan into a handful of files; without clustering,
    * every file's min/max spans the whole domain and nothing prunes.
    * Logical like every commit: old files stay for older snapshots
    * until expire + GC.
    */
  def compactSorted(name: String, sortCols: Seq[String], targetFiles: Int = 8,
                    partitionCols: Seq[String] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "compactSorted requires sort columns")
    val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name)
    // pinned + rebase-on-disjoint, same discipline as compact()
    val v = catalog.head(name)
    val out = readVersion(name, v)
      .repartitionByRange(targetFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    commitReplacement(out, name, Seq.empty, pcols, baseVersion = v,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
  }

  /** Z-order-clustered compaction: like `compactSorted` but clustered
    * on the 2-D Morton value of (`colA`, `colB`)
    * (graft.functions.ZOrder — non-negative 31-bit inputs), so each
    * output file covers a small SQUARE of the plane and single-column
    * predicates on EITHER column prune files. A lexicographic sort
    * only prunes on its leading column — this is the difference
    * between Iceberg's sort and zorder rewrite strategies.
    */
  def compactZOrder(name: String, colA: String, colB: String,
                    targetFiles: Int = 8,
                    partitionCols: Seq[String] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.col
    // default to the table's CURRENT layout (layoutPartitionCols) so a
    // partitioned table is never silently rewritten flat — whether it
    // was created by SQL DDL (declared pcols) or by path writes
    val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name)
    val z = "__graft_z"
    // pinned + rebase-on-disjoint, same discipline as compact()
    val v = catalog.head(name)
    val out = readVersion(name, v)
      .withColumn(z, graft.functions.ZOrder.zvalue(col(colA), col(colB)))
      .repartitionByRange(targetFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z) // projection after the sort: row order within partitions survives
    commitReplacement(out, name, Seq.empty, pcols, baseVersion = v,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
  }

  /** Copy-on-write row-level DELETE — the same executor as SQL
    * `DELETE FROM` ([[rewriteWhere]]): keep the rows the predicate does
    * NOT select (a null-valued predicate keeps the row, per SQL) in
    * the files it might touch, drop the files it provably covers, carry
    * the rest. Deleted rows stay readable in prior snapshots. A racing
    * append lands via rebase UNLESS its new files might hold matching
    * rows — those must not silently survive a "successful" DELETE.
    */
  def deleteWhere(name: String, condition: org.apache.spark.sql.Column,
                  partitionCols: Seq[String] = Seq.empty, ref: Ref = Ref.Main): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    rewriteWhere(name, condition, ref, partitionCols, dropCovered = true)(
      _.filter(not(coalesce(condition, lit(false)))))
  }

  /** Copy-on-write row-level UPDATE: rows matching `condition` get the
    * `assignments` expressions applied (each may reference the row's
    * current columns); all other rows pass through unchanged. Same
    * executor as `deleteWhere`, minus the metadata-only tier: only the
    * files the predicate might touch are read and rewritten.
    */
  def updateWhere(name: String, condition: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column],
                  partitionCols: Seq[String] = Seq.empty, ref: Ref = Ref.Main): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val cond = coalesce(condition, lit(false))
    rewriteWhere(name, condition, ref, partitionCols, dropCovered = false) { cur =>
      assignments.keys.foreach(k =>
        require(cur.columns.contains(k), s"no such column in $name: $k"))
      cur.select(cur.columns.toSeq.map { c =>
        assignments.get(c)
          .map(v => when(cond, v).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  // ---- Merge-on-read position deletes (Iceberg's MOR DELETE).
  // Copy-on-write DELETE rewrites every file the predicate touches —
  // the wrong cost shape when a 100 TB table loses a handful of rows
  // per file. deleteWhereMOR instead writes a SMALL parquet of
  // (file key, row position) pairs and commits metadata-only: cost is
  // O(matched rows), data files are untouched byte-for-byte. Readers
  // (readVersion/readWhere, and the SQL catalog's merged V1 scan)
  // anti-join the positions, file-scoped: only files with deletes pay
  // the merge. applyDeletes rewrites ONLY the dirty files —
  // O(dirty bytes), never O(table) — and restores the pure-scan plan.
  // Every raw-manifest consumer that can't merge refuses loudly
  // instead of resurrecting rows: upsert, branch forks, compactWhere
  // (see their respective guards); the copy-on-write DML executor reads
  // its candidates merged.

  /** Write one merge-on-read delete set — `(gd_file, gd_pos)` position
    * pairs or equality key tuples (`eqKeyCols`, physical names) of `n`
    * rows — under the table's `deletes/` dir, and return its entries:
    * one per parquet file, each scoped to `dirty` (table-root-relative
    * data-file keys). Small sets (the designed regime) write ONE file in
    * one task; above `spark.graft.mor.shardRows` the write repartitions
    * by `shardCol` so a predicate matching millions of rows never
    * serializes through a single task. The write is the data files' own
    * ([[TableIO.writeStaged]]), so each file counts into the write audit.
    */
  private def writeDeleteSet(name: String, rows: DataFrame, n: Long, shardCol: String,
                             dirty: Seq[String],
                             eqKeyCols: Seq[String] = Seq.empty): Seq[TableCatalog.DeleteEntry] = {
    val dir = Paths.get(catalog.pathOf(name), "deletes",
      java.util.UUID.randomUUID().toString.take(12))
    val files = TableIO.writeStaged(
      if (n > morShardRows) rows.repartition(col(shardCol)) else rows.coalesce(1),
      catalog.pathOf(name), dir, Seq.empty)
    require(files.nonEmpty, s"delete write for $name produced no parquet under $dir")
    val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
    files.map(f => TableCatalog.DeleteEntry(TableIO.fileKeyOf(root, f), dirty, eqKeyCols))
  }

  /** Merge-on-read row-level DELETE: record the positions of rows
    * matching `condition` (a null-valued predicate keeps the row, per
    * SQL) as a position-delete file and commit it with the UNCHANGED
    * data file list. Returns (new version, rows deleted); a no-match
    * delete commits nothing. Candidate files are pruned by the hidden
    * partition layout and manifest stats first, and the scan runs over
    * the deletes-MERGED frame, so repeated MOR deletes never record
    * the same position twice (rowCount subtraction and the oracle
    * replay rely on that). On a branch `ref` the delete stacks on the
    * BRANCH chain (forking it at main's snapshot when absent) — main
    * never sees it until fast_forward.
    */
  def deleteWhereMOR(name: String, condition: org.apache.spark.sql.Column,
                     ref: Ref = Ref.Main): (Int, Long) =
    catalog.locked(name)(deleteWhereMORLocked(name, condition, ref))

  private def deleteWhereMORLocked(name: String, condition: org.apache.spark.sql.Column,
                                   ref: Ref): (Int, Long) = {
    import org.apache.spark.sql.functions.{coalesce, collect_set, count, lit}
    catalog.forkLocked(name, ref)
    val v = catalog.head(name, ref)
    val files = catalog.manifest(name, v, ref)
    if (files.isEmpty) return (v, 0L)
    val schemaCols = readFiles(name, files).columns.toSet
    require(!schemaCols(TableIO.PosFileCol) && !schemaCols(TableIO.PosIdxCol),
      s"$name: columns ${TableIO.PosFileCol}/${TableIO.PosIdxCol} are reserved " +
        "for position-delete bookkeeping")
    val candidates = scopeFor(name, v, ref, condition).touched
    if (candidates.isEmpty) return (v, 0L)
    val prior = catalog.pendingDeletes(name, v, ref)
    // scan LIVE rows only: an already-deleted position must never be
    // recorded again (position entries stay disjoint), and rows an
    // equality entry already kills must not be re-deleted
    val scanned = readFiles(name, candidates, withPos = true)
    val live =
      if (prior.isEmpty) scanned
      else applyDeleteEntries(scanned, name, prior)
    val hits = live.filter(coalesce(condition, lit(false)))
      .select(col(TableIO.PosFileCol).as("gd_file"), col(TableIO.PosIdxCol).as("gd_pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (n, dirtyKeys, newEntries) = try {
      // count + dirty keys from the cached positions FIRST: the shard
      // decision keys on the ACTUAL hit count, not the candidate-row
      // upper bound — a selective predicate over millions of candidate
      // rows must not shatter a tiny delete set into
      // shuffle.partitions files, each duplicating the dirty list in
      // its entry. The collect is bounded by the manifest size.
      val agg = hits.agg(count(lit(1)).as("n"),
        collect_set(col("gd_file")).as("dirty")).head()
      val nHits = agg.getLong(0)
      if (nHits == 0) return (v, 0L) // nothing matched: nothing written
      val dirty = agg.getSeq[String](1).sorted
      (nHits, dirty, writeDeleteSet(name, hits, nHits, "gd_file", dirty))
    } finally { hits.unpersist(); () }
    // pinned at head+1; a cross-process racer rebases through
    // commitOnto (prior entries carry in their RAW relative prop form
    // there, byte-stable across stacked MOR deletes)
    val nv = commitOnto(name, ref, Seq.empty, Map.empty, Map.empty, Some(v),
      Some(TableCatalog.encodeDeletes(newEntries)), dirtyKeys)
    (nv, n)
  }

  /** Materialize pending position deletes: rewrite ONLY the files that
    * have deletes (clean files and their stats carry verbatim —
    * O(dirty bytes), never O(table)) and clear the deletes prop,
    * restoring the pure parquet-scan plan for every reader. Returns
    * (new version, dirty files rewritten); a clean head is a no-op. On
    * a branch this is the cadence maintenance a long-lived CDC audit
    * branch needs between fast_forward cycles (the fork base carries).
    */
  def applyDeletes(name: String, partitionCols: Seq[String] = Seq.empty,
                   ref: Ref = Ref.Main): (Int, Long) = {
    var rewritten = 0L
    // the cleared prop is what flips readers back to the pure-scan
    // plan; the now-unreferenced delete files become age-guarded GC food
    val nv = commitRebuilt(name, ref, Map(TableCatalog.OpProp -> TableCatalog.OpRewrite),
        if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name, ref)) { v =>
      require(v > 0, ref.missing(name))
      val entries = catalog.pendingDeletes(name, v, ref)
      if (entries.isEmpty) None
      else {
        def norm(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
        val dirtySet = entries.flatMap(_.dirtyFiles).map(norm).toSet
        val (dirty, clean) = catalog.manifest(name, v, ref).partition(f => dirtySet(norm(f)))
        rewritten = dirty.size.toLong
        Some((clean, mergeDeletes(name, dirty, entries)))
      }
    }
    (nv, rewritten)
  }

  /** Merge-on-read row-level UPDATE: ONE commit carrying (a) a
    * position-delete file for the matched live rows and (b) new data
    * files holding those rows with `assignments` applied. Unmatched
    * rows are never read or rewritten beyond the pruned candidate
    * scan — O(matched rows), the update twin of [[deleteWhereMOR]].
    * Returns (new version, rows updated); no match commits nothing.
    */
  def updateWhereMOR(name: String, condition: org.apache.spark.sql.Column,
                     assignments: Map[String, org.apache.spark.sql.Column],
                     partitionCols: Seq[String] = Seq.empty,
                     ref: Ref = Ref.Main): (Int, Long) =
    catalog.locked(name)(updateWhereMORLocked(name, condition, assignments, partitionCols, ref))

  private def updateWhereMORLocked(name: String, condition: org.apache.spark.sql.Column,
                                   assignments: Map[String, org.apache.spark.sql.Column],
                                   partitionCols: Seq[String], ref: Ref): (Int, Long) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    catalog.forkLocked(name, ref)
    val v = catalog.head(name, ref)
    val files = catalog.manifest(name, v, ref)
    if (files.isEmpty) return (v, 0L)
    val cols = readFiles(name, files).columns
    assignments.keys.foreach(k =>
      require(cols.contains(k), s"no such column in $name: $k"))
    require(!cols.contains(TableIO.PosFileCol) && !cols.contains(TableIO.PosIdxCol),
      s"$name: columns ${TableIO.PosFileCol}/${TableIO.PosIdxCol} are reserved")
    val candidates = scopeFor(name, v, ref, condition).touched
    if (candidates.isEmpty) return (v, 0L)
    val prior = catalog.pendingDeletes(name, v, ref)
    val scanned = readFiles(name, candidates, withPos = true)
    val live = if (prior.isEmpty) scanned else applyDeleteEntries(scanned, name, prior)
    val matched = live.filter(coalesce(condition, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val positions = matched.select(col(TableIO.PosFileCol).as("gd_file"),
        col(TableIO.PosIdxCol).as("gd_pos"))
      // count + dirty keys from the cached match FIRST (the shard
      // decision keys on ACTUAL hits, like deleteWhereMOR's write);
      // a no-match update commits nothing and writes nothing
      val agg = positions
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.collect_set(col("gd_file")).as("dirty")).head()
      val n = agg.getLong(0)
      if (n == 0) return (v, 0L)
      val dirtyKeys = agg.getSeq[String](1).sorted
      val newEntries = writeDeleteSet(name, positions, n, "gd_file", dirtyKeys)
      // the replacement rows: matched rows with assignments applied.
      // n is known (the shard-decision aggregate above): sub-shard
      // replacement sets write one file in one task
      val bare = matched.drop(TableIO.PosFileCol, TableIO.PosIdxCol)
      val updated = bare.select(bare.columns.toSeq.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name, ref)
      val newFiles = stageWrite(
        toPhysical(if (n > morShardRows) updated else updated.coalesce(1), name), name, pcols)
      val conf = spark.sessionState.newHadoopConf()
      val nv = commitOnto(name, ref, newFiles,
        catalog.statsForCommit(name, Seq.empty, newFiles, conf), Map.empty, Some(v),
        Some(TableCatalog.encodeDeletes(newEntries)), dirtyKeys)
      (nv, n)
    } finally { matched.unpersist(); () }
  }

  /** Merge-on-read UPSERT via an EQUALITY delete (Iceberg's
    * equality-delete CDC write): the batch's rows land as new data
    * files and its key tuples land as an equality-delete file scoped
    * to the files that might hold those keys (manifest-stats
    * pruning) — committed together, atomically. NOTHING is read at
    * write time: cost is O(batch) regardless of table size, where the
    * copy-on-write [[upsert]] reads and rewrites every candidate file
    * per batch. Readers anti-join the keys against the entry's dirty
    * files only; [[applyDeletes]] (or any compaction) materializes.
    * Returns (new version, batch rows). Last-write-wins within the
    * table; within-batch reduction is the caller's job, like [[upsert]].
    */
  def upsertMOR(name: String, rows: DataFrame, keyCols: Seq[String],
                partitionCols: Seq[String] = Seq.empty,
                props: Map[String, String] = Map.empty,
                maxScopedKeys: Int = 100000,
                ref: Ref = Ref.Main): (Int, Long) =
    cdcMOR(name, rows, rows, keyCols, partitionCols, props, maxScopedKeys, ref)

  /** CDC apply, zero-read: `batch` carries an op column; rows whose
    * `opCol` value equals `deleteOp` are DELETE events (key-only —
    * their non-key columns are ignored), everything else upserts. ONE
    * equality-delete entry covers every key in the batch (a deleted
    * key simply gets no replacement row), so a mixed CDC batch costs
    * exactly what an upsert-only batch costs: new files for the
    * surviving rows + one key-tuple parquet + a metadata commit —
    * nothing existing is read at any table size. Within-batch
    * reduction to ONE op per key is the caller's job (the streaming
    * sink does it), like [[upsert]]/[[upsertMOR]].
    */
  def cdcApplyMOR(name: String, batch: DataFrame, keyCols: Seq[String],
                  opCol: String, deleteOp: String = "D",
                  partitionCols: Seq[String] = Seq.empty,
                  props: Map[String, String] = Map.empty,
                  maxScopedKeys: Int = 100000,
                  ref: Ref = Ref.Main): (Int, Long) = {
    require(batch.columns.contains(opCol), s"cdcApplyMOR: no op column '$opCol' in batch")
    require(!keyCols.contains(opCol), s"cdcApplyMOR: op column '$opCol' cannot be a key")
    // A null op makes `col(opCol) =!= deleteOp` null, which filter()
    // drops — the row would silently become a DELETE event (its key
    // stays in keySource). Refuse loudly instead, like the null-key
    // guard in cdcMOR — fused into cdcMOR's single validation
    // aggregate (one job, not one per check).
    cdcMOR(name, batch.filter(col(opCol) =!= deleteOp).drop(opCol),
      batch, keyCols, partitionCols, props, maxScopedKeys, ref,
      rowsPred = Some(col(opCol) =!= deleteOp),
      preChecks = Seq((col(opCol).isNull,
        s"cdcApplyMOR into $name: op column '$opCol' must be non-null " +
          "(a null op is neither an upsert nor a delete event)")))
  }

  /** Shared zero-read MOR batch commit: `rows` append (may select
    * NOTHING for a pure-delete batch), `keySource` supplies the key
    * tuples the equality delete kills. For [[upsertMOR]] the two are
    * the same frame; [[cdcApplyMOR]] splits delete events out of
    * `rows` but keeps their keys in `keySource`.
    */
  private def cdcMOR(name: String, rowsIn: DataFrame, keySource: DataFrame,
                     keyCols: Seq[String],
                     partitionCols: Seq[String],
                     props: Map[String, String],
                     maxScopedKeys: Int,
                     ref: Ref,
                     rowsPred: Option[org.apache.spark.sql.Column] = None,
                     preChecks: Seq[(org.apache.spark.sql.Column, String)] = Seq.empty)
      : (Int, Long) = {
    require(keyCols.nonEmpty, "upsertMOR/cdcApplyMOR needs at least one key column")
    val pinnedKeys = keySource.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pinned = rowsIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE validation aggregate over the (persisted) batch replaces a
      // job per check (null-op require, null-key require, batch count,
      // upsert-empty probe) — per-micro-batch commits pay Spark's
      // fixed per-job cost four fewer times, and the pass doubles as
      // the cache materialization
      import org.apache.spark.sql.functions.{count, lit, when}
      val keyNull = keyCols.map(k => col(k).isNull).reduce(_ || _)
      val aggCols =
        Seq(count(lit(1)), count(when(keyNull, lit(1)))) ++
          preChecks.map { case (p, _) => count(when(p, lit(1))) } ++
          rowsPred.map(p => count(when(p, lit(1)))).toSeq
      val vrow = pinnedKeys.agg(aggCols.head, aggCols.tail: _*).head()
      val n = vrow.getLong(0)
      preChecks.zipWithIndex.foreach { case ((_, msg), i) =>
        require(vrow.getLong(2 + i) == 0, msg)
      }
      require(vrow.getLong(1) == 0,
        s"MOR batch into $name: key columns (${keyCols.mkString(",")}) must be non-null")
      // rows to append: with a rowsPred, pinned = keySource.filter(pred)
      val nUpserts = rowsPred.fold(n)(_ => vrow.getLong(2 + preChecks.size))
      if (catalog.currentVersion(name).isEmpty) {
        require(ref == Ref.Main,
          s"branch MOR write into $name: the table does not exist yet — " +
            "create it (a main append/overwrite) before branching CDC onto it")
        // table creation: deletes against nothing are no-ops
        return (append(pinned, name, partitionCols, props), n)
      }
      catalog.locked(name) {
        catalog.forkLocked(name, ref)
        val v = catalog.head(name, ref)
        if (n == 0) {
          // idle batch: an append of no files carrying the mark (as upsert's)
          (if (props.nonEmpty) commitOnto(name, ref, Seq.empty, Map.empty, props, Some(v)) else v,
            0L)
        } else {
          val snap = catalog.snapshot(name, v, ref)
          val files = snap.files
          // scope the equality delete to files that might hold the keys
          // (by the first key, like upsert's rewrite scoping)
          FileStats.prime(snap.statsByFile)
          val keyVals: Option[Array[Any]] =
            try {
              val ks = pinnedKeys.select(keyCols.head).distinct().limit(maxScopedKeys + 1).collect()
              if (ks.length > maxScopedKeys) None else Some(ks.map(_.get(0)))
            } catch { case scala.util.control.NonFatal(_) => None }
          val dirty = keyVals match {
            case None => files
            case Some(vals) =>
              val filter = Seq(org.apache.spark.sql.sources.In(keyCols.head, vals))
              val scope = fileScopeOf(name, files, pinnedKeys.schema)
              Timers.time("dml.pruneProbe")(files.filter(scope.mightMatch(_, filter)))
          }
          val pcols = if (partitionCols.nonEmpty) partitionCols else layoutPartitionCols(name, ref)
          // a pure-delete batch appends nothing — no empty-file junk.
          // Below the shard bound, coalesce the (cached — its partition
          // layout would otherwise defeat AQE coalescing) batch to one
          // write task: a CDC batch is O(batch) by design, and a 32-
          // partition cached micro-batch would stage 32 KB-sized files
          // per commit — paying 32 footer-stat reads and manifest
          // entries for one batch's worth of rows.
          val newFiles =
            if (nUpserts == 0) Seq.empty[String]
            else stageWrite(
              toPhysical(if (n > morShardRows) pinned else pinned.coalesce(1), name), name, pcols)
          // stats prove no file holds the keys: pure append (no entry)
          val (entriesRaw, dirtyRel) =
            if (dirty.isEmpty) (None, Seq.empty[String])
            else {
              // equality keys ride under PHYSICAL column names (rename-proof)
              val renames = catalog.renames(name)
              val physKeys = keyCols.map(k => renames.getOrElse(k, k))
              val keyRows = toPhysical(pinnedKeys.select(keyCols.map(col): _*).distinct(), name)
              val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
              val rel = dirty.map(f => TableIO.fileKeyOf(root, f)).sorted
              // a CDC batch is O(batch) by design; above the shard bound
              // the key write parallelizes by key instead of one task
              val entries = writeDeleteSet(name, keyRows, n, physKeys.head, rel, physKeys)
              (Some(TableCatalog.encodeDeletes(entries)), rel)
            }
          val nv = commitOnto(name, ref, newFiles, catalog.statsForCommit(name, Seq.empty,
            newFiles, spark.sessionState.newHadoopConf()), props, Some(v), entriesRaw, dirtyRel)
          (nv, n)
        }
      }
    } finally { pinned.unpersist(); pinnedKeys.unpersist(); () }
  }

  def tableExists(name: String): Boolean = catalog.tableExists(name)

  def versions(name: String): Seq[Int] = catalog.versions(name)

  /** Register the current snapshot as a temp view so `spark.sql` /
    * SHOW TABLES-style introspection works over the warehouse
    * (reference: README.md:125-128 manual verification surface).
    */
  def registerView(name: String, viewName: String): Unit =
    read(name).createOrReplaceTempView(viewName)

  /** Writers store the PHYSICAL (at-birth) column names so every data
    * file stays uniform across renames; readers alias back.
    */
  private def toPhysical(df: DataFrame, name: String): DataFrame =
    catalog.renames(name).foldLeft(df) { case (d, (logical, physical)) =>
      d.withColumnRenamed(logical, physical)
    }

  /** Hidden-partition layout derivation (the write half of the pspec
    * design, see [[PartitionTransforms]]): when the table declares a
    * partition spec, append one derived layout column per transform
    * and lay the write out by THOSE — callers never see or maintain
    * the layout columns. Tables without a spec pass through with the
    * caller's explicit partition columns (classic Hive layout).
    */
  private def withLayout(df: DataFrame, name: String,
                         passed: Seq[String]): (DataFrame, Seq[String]) = {
    val specs = catalog.readMeta(name).partitionSpec.map(PartitionTransforms.parse)
    if (specs.isEmpty) (df, passed)
    else {
      val renames = catalog.renames(name)
      // identity transforms keep the (physical) source column itself
      // as the visible layout column; the rest derive a gp_* column
      val layoutNames = specs.map {
        case PartitionTransforms.Identity(src) => renames.getOrElse(src, src)
        case t => t.derivedName
      }
      require(passed.isEmpty || passed == layoutNames || passed == specs.map(_.derivedName),
        s"$name partitions by its spec (${specs.map(_.spec).mkString(", ")}); " +
          s"explicit partition columns ${passed.mkString(",")} conflict")
      val out = specs.zip(layoutNames).foldLeft(df) { case (d, (t, layout)) =>
        val phys = renames.getOrElse(t.src, t.src)
        require(d.columns.contains(phys),
          s"partition transform ${t.spec} of $name: source column '$phys' " +
            s"missing from the write (columns: ${d.columns.mkString(",")})")
        if (layout == phys) d
        else d.withColumn(layout, t.column(col(phys), d.schema(phys).dataType))
      }
      (out, layoutNames)
    }
  }

  /** Write `df` into the table's data dir and return the new files'
    * absolute paths; nothing is live until the caller's manifest commit
    * names them. The write goes through [[TableIO.writeStaged]]: tasks
    * write into a PRIVATE per-write staging dir under the table root and
    * report the files they wrote, and only the files of accepted task
    * attempts move into the data dir (same filesystem, one atomic rename
    * each, partition subdirs preserved). Writers never share a staging
    * dir, so concurrent writers in separate JVMs never touch each
    * other's files (CrossProcessSpec), and no commit lists or walks a
    * directory to learn what it wrote. A write that fails before the
    * move leaves only a dot-prefixed staging dir, invisible to readers
    * and to `listDataFiles`, which `removeOrphanFiles` reclaims.
    *
    * `df` carries PHYSICAL column names. Package-visible for the SQL
    * row-level DML layout hop (GraftRowOpsTable), which stages its
    * replacement rows under the table's partitioned layout; callers
    * must already hold the table's write lock and own the manifest
    * commit.
    */
  private[io] def stageWrite(df: DataFrame, name: String, partitionCols: Seq[String]): Seq[String] = {
    val (laid0, layoutCols) = withLayout(df, name, partitionCols)
    // WRITE DISTRIBUTION MODE (Iceberg's write.distribution-mode =
    // hash): cluster the batch by its layout columns so each partition
    // value is written by ONE task — one file per partition per commit
    // instead of (tasks x partitions) small files, the dominant
    // small-file source on partitioned 100 TB appends. Deferred when a
    // write SORT ORDER is declared (the range distribution already
    // owns the batch's layout); meta read is cached for the write.
    val meta = catalog.readMeta(name)
    val laid =
      if (layoutCols.nonEmpty && meta.distribution.contains("hash") && meta.sortOrder.isEmpty)
        laid0.repartition(layoutCols.map(col): _*)
      else laid0
    TableIO.writeStaged(laid, catalog.pathOf(name), Paths.get(catalog.dataPath(name)), layoutCols)
  }

  private def write(df: DataFrame, name: String, append: Boolean, partitionCols: Seq[String],
                    props: Map[String, String], ref: Ref): Int =
    // EVERY writer — appends here, and the SQL row-level-DML rewrite
    // (GraftRowOpsTable) — stages privately and claims exactly the
    // files it moved, so no writer can ever capture another's in-flight
    // files. Appends are safe across PROCESSES end-to-end (private
    // staging + the commit loop's append rule, proven by
    // CrossProcessSpec); DML pins the base it read and commits through
    // the loop's replacement rule, so a racing commit either rebases
    // under validation or surfaces as ConcurrentCommitException. The
    // same-JVM per-table lock remains as a serialization optimization
    // (saves wasted optimistic retries), not a correctness requirement.
    // cachedMeta: the helpers below (applyWriteOrder, toPhysical,
    // withLayout) each read table meta — one catalog round-trip per
    // commit, not four (r17 verdict item 1)
    catalog.locked(name)(catalog.cachedMeta {
      writeLocked(applyWriteOrder(applyChecks(df, name), name),
        name, append, partitionCols, props, ref)
    })

  /** Enforce the table's CHECK constraints on an incoming write in the
    * SAME pass that writes the rows: every row evaluates every
    * predicate through an assert_true guard (a violation fails the
    * write job before anything commits), so enforcement costs zero
    * extra scans. SQL CHECK semantics: only a FALSE predicate
    * violates — NULL (unknown) passes. A predicate referencing a
    * column the batch doesn't carry fails the write loudly (analysis
    * error), never silently skips the check.
    */
  private def applyChecks(df: DataFrame, name: String): DataFrame = {
    val meta = catalog.readMeta(name)
    val checked = meta.checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (cn, pred)) =>
      val msg = s"CHECK constraint $cn violated".replace("'", "")
      d.filter(org.apache.spark.sql.functions.expr(
        s"isnull(assert_true(NOT (($pred) <=> false), '$msg'))"))
    }
    // NOT NULL columns (declared nullable=false in the table schema):
    // same single-pass assert_true discipline as CHECK predicates. A
    // batch MISSING a NOT NULL column refuses loudly unless the column
    // carries an existence DEFAULT (the readers fill it — never null);
    // silently accepting would make every read of the batch a
    // violation discovered too late.
    val notNullCols = meta.schemaJson
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .map(_.fields.filterNot(_.nullable).toSeq).getOrElse(Seq.empty)
    notNullCols.foldLeft(checked) { case (d, f) =>
      if (!d.columns.contains(f.name)) {
        require(f.metadata.contains("EXISTS_DEFAULT"),
          s"write to $name: batch is missing NOT NULL column '${f.name}' " +
            "(and the column has no DEFAULT to fill it)")
        d
      } else {
        val msg = s"NOT NULL constraint violated: column ${f.name} is null".replace("'", "")
        d.filter(org.apache.spark.sql.functions.expr(
          s"isnull(assert_true(`${f.name}` IS NOT NULL, '$msg'))"))
      }
    }
  }

  /** Apply the table's persisted WRITE SORT ORDER (Iceberg's
    * write.sort-order) to an incoming append/overwrite: range-
    * distribute + sort on the declared columns, so every new file's
    * footer min/max tile the key space disjointly and plan-time stats
    * skipping prunes point/range predicates to O(matching files) —
    * compactSorted's clustering as a STANDING property of the write
    * path instead of a maintenance pass. A batch missing any sort
    * column (schema-on-read drift) writes UNSORTED rather than
    * failing — the order is a layout optimization, never a gate.
    */
  private def applyWriteOrder(df: DataFrame, name: String): DataFrame = {
    val cols = catalog.readMeta(name).sortOrder
    if (cols.isEmpty || !cols.forall(df.columns.contains)) df
    else df.repartitionByRange(cols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(cols.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Declare (or clear, with "none") the table's write distribution
    * mode; persisted in table meta, honored by every subsequent
    * partitioned append/overwrite/rewrite. SQL surface:
    * CALL system.set_write_distribution(table, mode).
    */
  def setWriteDistribution(name: String, mode: String): Unit = {
    val m = mode.trim.toLowerCase
    require(m == "hash" || m == "none",
      s"setWriteDistribution: mode must be 'hash' or 'none', got '$mode'")
    catalog.locked(name) {
      val meta = catalog.readMeta(name)
      catalog.writeMeta(name, meta.copy(distribution = if (m == "none") None else Some(m)))
    }
  }

  /** Flip a column's declared nullability. SET NOT NULL (nullable =
    * false) validates EXISTING rows first — a null already on disk
    * would make every future read a lie — and Spark's v2 ALTER refuses
    * nullable->non-nullable outright (CheckAnalysis), so this is the
    * SQL surface's backing primitive:
    *   ALTER TABLE t ALTER COLUMN c SET NOT NULL   (parser sugar)
    *   CALL cat.system.set_column_nullability('t', 'c', false)
    * DROP NOT NULL needs no validation and also flows through Spark's
    * native ALTER (relaxing is always admitted). Semantics match the
    * GraftCatalog.alterTable UpdateColumnNullability path (the
    * programmatic TableChange route) — both spec-pinned.
    */
  def setColumnNullability(name: String, column: String, nullable: Boolean): Unit =
    catalog.locked(name) {
      val meta = catalog.readMeta(name)
      val schema = meta.schemaJson
        .map(org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(org.apache.spark.sql.types.StructType(read(name).schema.fields))
      require(schema.fieldNames.contains(column),
        s"setColumnNullability: no such column in $name: $column")
      if (!nullable) {
        val bad =
          if (catalog.currentVersion(name).isEmpty) 0L
          else read(name)
            .filter(org.apache.spark.sql.functions.col(column).isNull)
            .limit(1).count()
        require(bad == 0L,
          s"cannot set column '$column' NOT NULL: existing rows hold nulls — " +
            "clean them first (UPDATE/DELETE), then re-run the ALTER")
      }
      val updated = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == column) f.copy(nullable = nullable) else f))
      catalog.writeMeta(name, meta.copy(schemaJson = Some(updated.json)))
    }

  /** Declare (or clear, with Seq.empty) the table's write sort order;
    * persisted in table meta, honored by every subsequent append and
    * overwrite. SQL surface: CALL system.set_write_order(table, cols).
    */
  def setWriteSortOrder(name: String, cols: Seq[String]): Unit = {
    // locked read-modify-write: a concurrent ALTER TABLE or another
    // set_write_order must not have its meta fields clobbered by this
    // writer's stale read
    catalog.locked(name) {
      val meta = catalog.readMeta(name)
      catalog.writeMeta(name, meta.copy(sortOrder = cols))
    }
  }

  private def writeLocked(df: DataFrame, name: String, append: Boolean, partitionCols: Seq[String],
                          props: Map[String, String], ref: Ref): Int = {
    // append never forks: an unknown branch fails before any data is
    // staged; overwrite forks the branch on first write
    if (append) require(ref == Ref.Main || catalog.currentVersion(name, ref).isDefined,
      ref.missing(name))
    else catalog.forkLocked(name, ref)
    val newFiles = stageWrite(toPhysical(df, name), name, partitionCols)
    val newStats = commitStats(name, Seq.empty, newFiles)
    // a blind overwrite replaces whatever the head it reads at commit
    // time holds and never retries: a racer landing between that read
    // and the link surfaces as ConcurrentCommitException
    if (append) commitOnto(name, ref, newFiles, newStats, props)
    else catalog.commitSnapshot(name, newFiles, props, newStats, ref)
  }

  /** The APPEND rule of the commit loop ([[TableCatalog.commitLoop]]):
    * keep every file of `ref`'s head with its stats and its pending
    * deletes carry (dropping the carry would silently resurrect the
    * deleted rows), then add `newFiles`. Losing the race costs one
    * manifest re-read, never a data rewrite. Appends, WAP publish and
    * idle stream batches (no files, only the mark) take it as is; a
    * branch head must exist, main's is created by the first append.
    *
    * Merge-on-read writes (Iceberg's row delta) stack `newRaw` delete
    * entries onto the head's carry — main and branch chains alike: a
    * branch snapshot carries the same `graft.deletes` prop, branch reads
    * merge it, and [[TableCatalog.fastForward]] publishes it to main
    * with the files. They pin the head they planned against (`head0`)
    * and rebase onto any head that still CONTAINS every file the
    * entries scope (`scopedKeys`, table-root-relative): position pairs
    * reference immutable files, and an equality entry's dirty list pins
    * exactly the files it kills in, so a racer's appended files stay
    * out of scope — their rows are newer than this batch and survive it
    * (snapshot isolation, Iceberg's default for row-delta commits). A
    * head missing a scoped file means a rewrite/applyDeletes landed and
    * the recorded positions are dead — refuse, for the caller to rerun
    * against fresh state. Returns the committed version (the head, when
    * a replayed stream batch is recognized as already in).
    */
  private[io] def commitOnto(name: String, ref: Ref, newFiles: Seq[String],
                             newStats: Map[String, Map[String, FileStats.ColStats]],
                             props: Map[String, String], head0: Option[Int] = None,
                             newRaw: Option[String] = None,
                             scopedKeys: Seq[String] = Seq.empty): Int = {
    val root = Paths.get(catalog.pathOf(name)).toAbsolutePath.normalize
    val scoped = scopedKeys.toSet
    catalog.commitLoop(name, ref, props, head0) { (head, lost) =>
      if (head == 0) {
        require(ref == Ref.Main, ref.missing(name))
        Some(TableCatalog.Commit(newFiles, Map.empty, newStats))
      } else {
        val snap = catalog.snapshot(name, head, ref)
        val files = snap.files
        if (lost.isDefined && !scoped.subsetOf(files.map(TableIO.fileKeyOf(root, _)).toSet))
          throw new ConcurrentCommitException(
            s"MOR commit to ${ref.describe(name)} lost its base: a concurrent rewrite " +
              "removed file(s) the delete entries scope — rerun the operation " +
              "against the current snapshot")
        val carry = TableCatalog.deletesCarry(snap.props)
        val deletes = newRaw.fold(carry) { nr =>
          Map(TableCatalog.DeletesProp ->
            carry.get(TableCatalog.DeletesProp).fold(nr)(TableCatalog.joinDeletesRaw(_, nr)))
        }
        Some(TableCatalog.Commit(files ++ newFiles, deletes, snap.statsByFile ++ newStats))
      }
    }
  }

  /** The RERUN rule of the commit loop ([[TableCatalog.commitLoop]])
    * for commits whose content derives from the head they land on —
    * applyDeletes' merge, the sketch sinks' read-merge-overwrite.
    * Nothing there can blind-rebase, but it CAN rerun: every attempt
    * re-reads and rebuilds at the fresh head. `build` answers the files
    * to keep and the frame to stage over them under `partitionCols`
    * (None: nothing to commit). Under the table's write lock for the
    * whole loop; a losing attempt's staged files become age-guarded GC
    * food.
    */
  private[graft] def commitRebuilt(name: String, ref: Ref, props: Map[String, String],
                                   partitionCols: => Seq[String] = Seq.empty)
                                  (build: Int => Option[(Seq[String], DataFrame)]): Int =
    catalog.locked(name)(catalog.commitLoop(name, ref, props) { (head, _) =>
      build(head).map { case (keep, df) =>
        val newFiles = stageWrite(toPhysical(df, name), name, partitionCols)
        TableCatalog.Commit(keep ++ newFiles, Map.empty, commitStats(name, keep, newFiles, ref))
      }
    })
}

object TableIO {
  def apply(spark: SparkSession, warehouse: String): TableIO =
    new TableIO(spark, TableCatalog(warehouse))

  /** Bookkeeping columns for position-delete scans — reserved names,
    * refused as user columns by [[TableIO.deleteWhereMOR]].
    */
  private[io] val PosFileCol = "__gd_file"
  private[io] val PosIdxCol = "__gd_pos"

  /** Rename-stable data-file key: the file's path RELATIVE to the
    * table root (`data/...`), derived from the scan's hidden
    * `_metadata.file_path`. The LAST `/data/` in the path is
    * necessarily the table's data root — partition directories always
    * carry '=' in their name, so no nested directory under data/ can
    * be named bare `data`, and a warehouse path containing `/data/`
    * sits to the LEFT of the table's own. Computed by the same
    * expression on the delete-write and merge-read sides so any
    * URI-form quirk of file_path cancels; stored relative, so a table
    * rename or warehouse move never detaches delete files from their
    * data files.
    */
  private[io] def fileKeyExpr: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit, substring_index}
    concat(lit("data/"), substring_index(col("_metadata.file_path"), "/data/", -1))
  }

  /** The same key for a manifest path, driver-side. */
  private[io] def fileKeyOf(tableRootAbs: java.nio.file.Path, file: String): String =
    tableRootAbs.relativize(Paths.get(file).toAbsolutePath.normalize).toString

  /** Process-wide write audit: data, merge-on-read delete and stream
    * change-stage files (and their bytes) [[publish]]ed since JVM start. Bench
    * snapshots the counters around each query to attribute bench-time
    * variance to write volume (the r11 verdict's q52 ask: files/bytes written must
    * reach the bench artifact so many-small-file sensitivity on slow
    * storage is measurable, not inferred).
    */
  val filesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A PRIVATE per-write staging dir under the table directory
    * `tablePath`: dot-prefixed, so it is invisible to readers and to
    * `listDataFiles`; `removeOrphanFiles` reclaims one a dead writer
    * left behind. Writers move their finished files out of it
    * ([[publish]]) and [[sweepDir]] it afterwards.
    */
  private[io] def newStagingDir(tablePath: String): Path = {
    val root = Paths.get(tablePath)
    Files.createDirectories(root)
    Files.createTempDirectory(root, ".stage-")
  }

  /** Best-effort recursive delete of a private staging dir — never
    * masks the caller's own outcome (a concurrent sweep may race it).
    */
  private[io] def sweepDir(dir: Path): Unit =
    try Using.resource(Files.walk(dir)) { s =>
      s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The table layer's one data-file write: `df` goes through
    * [[org.apache.spark.sql.GraftStagedWrite]] into a private staging
    * dir under `tablePath`, the files it names are [[publish]]ed under
    * `target`, and the staging dir (holding at most failed attempts'
    * files by then) is swept. Returns the published absolute paths.
    */
  private[io] def writeStaged(df: DataFrame, tablePath: String, target: Path,
                              partitionCols: Seq[String]): Seq[String] = {
    val staging = newStagingDir(tablePath)
    try {
      val names = Timers.time("stageWrite.writeJob")(
        org.apache.spark.sql.GraftStagedWrite.write(df, staging.toString, partitionCols))
      Timers.time("stageWrite.move")(publish(staging, target, names))
    } finally sweepDir(staging)
  }

  /** Move the named files (relative to `staging`) under `target` —
    * same-filesystem atomic renames, relative layout preserved — and
    * count them into the write audit. Returns their absolute paths.
    */
  private[io] def publish(staging: Path, target: Path, names: Seq[String]): Seq[String] =
    names.map { n =>
      val from = staging.resolve(n)
      val to = target.resolve(n)
      Files.createDirectories(to.getParent)
      filesWritten.incrementAndGet()
      bytesWritten.addAndGet(Files.size(from))
      Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      to.toAbsolutePath.normalize.toString
    }

  /** Per-table (canonical path) write mutex shared by every TableIO
    * instance in the JVM — see `write`. A Semaphore, not a monitor:
    * the SQL row-level-operation write span (GraftRowOpsTable) starts
    * at `toBatch` (its before-listing) and ends in `commit`/`abort`,
    * driver callbacks that need not run on one thread, and a monitor
    * can only be released by its owning thread.
    *
    * NOT REENTRANT — and because release may come from another
    * thread, ownership cannot be tracked to make it so. Every current
    * holder (write/overwritePartition/commitReplacement/expireSnapshots/
    * removeOrphanFiles/mutateTags and the DML write span) acquires at
    * its public entry and calls only non-locking internals underneath.
    * Keep it that way: invoking any of those public entries while the
    * calling thread already holds this table's permit (e.g. maintenance
    * from inside a commit hook) self-deadlocks with no diagnostic.
    */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Semaphore]()
  private[io] def writeLock(tablePath: String): java.util.concurrent.Semaphore =
    writeLocks.computeIfAbsent(
      Paths.get(tablePath).toAbsolutePath.normalize.toString,
      _ => new java.util.concurrent.Semaphore(1))

  /** Acquire the table's write lock for a span whose end is a driver
    * callback (a DSv2 `BatchWrite`'s commit/abort, which need not run
    * on the acquiring thread); returns the release. Release is
    * IDEMPOTENT: when commit() throws (e.g. a version conflict), Spark's
    * V2 write exec catches and calls abort(), so both callbacks' finally
    * blocks run — a second release() on a Semaphore(1) would mint an
    * extra permit and two writers could then hold the "mutex"
    * concurrently forever.
    */
  private[io] def acquireForCallbacks(tablePath: String): () => Unit = {
    val lock = writeLock(tablePath)
    lock.acquire()
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    () => if (released.compareAndSet(false, true)) lock.release()
  }
}

