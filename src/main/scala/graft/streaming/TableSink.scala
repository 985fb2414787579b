package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.{Ref, TableCatalog, TableIO}

/** Streaming sink into the graft snapshot table layer with
  * exactly-once batch commits — the `writeStream.format("iceberg")`
  * surface re-expressed over manifests.
  *
  * Structured Streaming's foreachBatch is at-least-once: after a
  * failure the engine replays the last uncommitted micro-batch, so a
  * sink that blindly appends duplicates it. The guard is the batch-id
  * high-water mark committed INSIDE the snapshot manifest (a
  * `streamBatchId` property riding the same atomic hard-link as the
  * file list), so "rows visible" and "batch marked done" cannot
  * diverge: a crash before the manifest commit leaves only orphaned
  * data files — invisible to readers, reclaimed by GC — and the
  * replay re-commits; a crash after it leaves the mark in place and
  * the replay is a no-op. The mark is keyed by the query's checkpoint
  * lineage (`sinkId`), so a restart with a FRESH checkpoint — whose
  * batch ids restart at 0 — starts a fresh mark instead of silently
  * skipping everything below the previous incarnation's high water.
  */
object TableSink {

  /** Commit one micro-batch onto `ref`: one snapshot carrying both the
    * rows and the batch-id mark, skipping batch ids at or below the
    * mark on that chain (on a branch the mark rides the BRANCH
    * manifests — main may not have fast-forwarded yet when a replay
    * arrives). Returns whether a snapshot was committed — factored out
    * of the stream wiring so the replay guard is directly testable.
    *
    * `sinkId` scopes the mark to one query lineage (appendStream
    * derives it from the checkpoint path): batch ids restart at 0
    * when a query runs with a FRESH checkpoint, and comparing those
    * against another incarnation's high-water mark would silently
    * drop every replayed-looking batch — data loss, not dedup. The
    * None default keys the bare legacy per-table mark (one query per
    * table, as the direct-call tests use).
    */
  def commitStreamBatch(io: TableIO, table: String, batchId: Long, batch: DataFrame,
                        partitionCols: Seq[String] = Seq.empty,
                        sinkId: Option[String] = None,
                        ref: Ref = Ref.Main): Boolean = {
    val propKey = TableCatalog.streamBatchProp(sinkId)
    if (io.catalog.streamBatchMark(table, propKey, ref).exists(_ >= batchId)) false
    else {
      io.append(batch, table, partitionCols, props = Map(propKey -> batchId.toString), ref = ref)
      true
    }
  }

  /** Stable sink identity from the checkpoint location — the same
    * checkpoint IS the same query lineage (batch ids continue), a new
    * checkpoint is a new lineage (batch ids restart).
    */
  private def sinkIdOf(checkpoint: String): String = {
    val canon = java.nio.file.Paths.get(checkpoint).toAbsolutePath.normalize.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** The ONE writeStream wiring every sink shares: checkpoint +
    * foreachBatch + optional AvailableNow trigger + optional output
    * mode. A trigger/option change lands here once, not per sink.
    */
  private def startForeachBatch(stream: DataFrame, checkpoint: String,
                                availableNow: Boolean,
                                outputMode: Option[String] = None)(
      fn: (DataFrame, Long) => Unit): StreamingQuery = {
    val base = stream.writeStream.option("checkpointLocation", checkpoint)
    val modal = outputMode.fold(base)(base.outputMode)
    val w = modal.foreachBatch { (batch: DataFrame, id: Long) => fn(batch, id) }
    (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w)
      .start()
  }

  /** The shared sketch-merge core: union the batch sketch with the
    * current state (if any), re-aggregate per key with `agg`
    * (max-monoid or additive), overwrite with `props` riding the
    * commit. The read-merge-overwrite pair is torn-read safe because
    * snapshots are immutable (the read pins the old manifest's files,
    * which the overwrite never touches) — but NOT lost-update safe on
    * its own: two mergers reading the same state version would each
    * overwrite with only their own batch folded in, silently losing
    * one side's registers/counts. So the commit is PINNED at the
    * version observed by the state read (+1); a racer surfaces as
    * ConcurrentCommitException and the whole read-merge-commit is
    * retried against the racer's output (bounded optimistic loop, the
    * table-layer rule for version-checked commits).
    */
  private def mergeSketch(io: TableIO, table: String, sk: DataFrame,
                          keyCols: Seq[String], stateCol: String,
                          agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          props: Map[String, String],
                          alreadyMerged: () => Boolean = () => false): Unit = {
    import org.apache.spark.sql.functions.col
    var attempt = 0
    var done = false
    while (!done) {
      // Replay guard INSIDE the loop (mirrors the append path): a
      // sum-merge that loses the version race may have lost it to the
      // SAME batch committed by a recovered query instance — blind
      // retry would fold the batch in twice. Re-checked per attempt.
      if (alreadyMerged()) return
      val base = io.catalog.currentVersion(table).getOrElse(0)
      val merged =
        if (base > 0)
          io.read(table).unionByName(sk)
            .groupBy(keyCols.map(col): _*)
            .agg(agg(col(stateCol)).as(stateCol))
        else sk
      try {
        io.overwriteAt(merged, table, base + 1, props = props)
        done = true
      } catch {
        case e: graft.io.ConcurrentCommitException =>
          attempt += 1
          if (attempt > 20) throw e // livelock guard; caller decides
      }
    }
  }

  /** Wire a streaming DataFrame into a table: every micro-batch is one
    * snapshot commit, replays are no-ops. `availableNow = true` runs
    * the bounded catch-up variant (process everything currently
    * available, then stop) — the batch-backfill mode of the same sink.
    * On a branch `ref` this is the WAP-branch pattern for streams:
    * micro-batches land on the branch chain, main stays byte-identical
    * until an audit passes and `fastForward` integrates the whole run
    * in one metadata-only commit. Where the main sink publishes every
    * batch immediately and WAP stages ONE batch, this stages an
    * unbounded stream behind a named ref.
    */
  def appendStream(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                   partitionCols: Seq[String] = Seq.empty,
                   availableNow: Boolean = false,
                   ref: Ref = Ref.Main): StreamingQuery = {
    val sid = Some(sinkIdOf(checkpoint))
    startForeachBatch(stream, checkpoint, availableNow) { (batch, id) =>
      commitStreamBatch(io, table, id, batch, partitionCols, sid, ref); ()
    }
  }

  /** Complete-mode sink for streaming AGGREGATIONS: every micro-batch
    * carries the full up-to-date result, so the sink OVERWRITES the
    * table per batch (snapshot-atomic — readers always see one whole
    * result, never a mix). Overwrite is naturally idempotent under
    * replay, so no batch-id mark is needed. This is the
    * materialized-view shape: the table always holds the complete
    * aggregate of everything the stream has seen; the append sink
    * above is the ingest/ledger shape.
    *
    * Scale note: complete mode re-emits the whole aggregate per batch,
    * so it fits results bounded by GROUP-BY cardinality (a windowed
    * rollup — windows × types), not per-event output; for those, use
    * the append sink with a watermark.
    */
  /** Commit one micro-batch as an UPSERT: the batch reduces to its
    * last-write-wins winner per key (greatest `orderCols` tuple;
    * callers pass a TOTAL order — e.g. ts + a unique id — or the
    * winner under ties is undefined), and `TableIO.upsert` replaces
    * exactly those keys' rows, scoped to the files that can hold them
    * by the manifest stats/bloom layer. The batch-id mark rides the
    * SAME snapshot commit, so replays are no-ops exactly like the
    * append sink's.
    */
  def commitUpsertBatch(io: TableIO, table: String, batchId: Long, batch: DataFrame,
                        keyCols: Seq[String], orderCols: Seq[String],
                        partitionCols: Seq[String] = Seq.empty,
                        sinkId: Option[String] = None): Boolean = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val propKey = TableCatalog.streamBatchProp(sinkId)
    val mark = io.catalog.streamBatchMark(table, propKey)
    if (mark.exists(_ >= batchId)) false
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(col(_).desc): _*)
      val winners = batch.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
      io.upsert(table, winners, keyCols, partitionCols,
        props = Map(propKey -> batchId.toString))
      true
    }
  }

  /** Streaming CDC-apply: every micro-batch upserts (key-replaces)
    * into the table — the "table mirrors the latest state per key"
    * shape, vs appendStream's ledger shape. Cross-batch semantics are
    * CDC source order: a later batch's row replaces an earlier
    * batch's for the same key unconditionally (within a batch, the
    * greatest `orderCols` wins).
    */
  def upsertStream(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                   keyCols: Seq[String], orderCols: Seq[String],
                   partitionCols: Seq[String] = Seq.empty,
                   availableNow: Boolean = false): StreamingQuery = {
    val sid = Some(sinkIdOf(checkpoint))
    startForeachBatch(stream, checkpoint, availableNow) { (batch, id) =>
      commitUpsertBatch(io, table, id, batch, keyCols, orderCols, partitionCols, sid); ()
    }
  }

  /** One MERGE-ON-READ micro-batch commit: the batch lands as an
    * equality-delete upsert ([[graft.io.TableIO.upsertMOR]]) unless
    * the mark says it already did. Same within-batch last-write-wins
    * reduction and replay guard as [[commitUpsertBatch]]; the
    * difference is the write's cost shape — NOTHING existing is read
    * or rewritten, so a CDC batch costs O(batch) at ANY table size
    * (the COW sink reads and rewrites every candidate file per
    * batch). The read-side bill is deferred to applyDeletes/compaction
    * cadence — the right trade for write-heavy CDC into huge tables.
    */
  def commitUpsertMORBatch(io: TableIO, table: String, batchId: Long, batch: DataFrame,
                           keyCols: Seq[String], orderCols: Seq[String],
                           partitionCols: Seq[String] = Seq.empty,
                           sinkId: Option[String] = None,
                           ref: Ref = Ref.Main): Boolean = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val propKey = TableCatalog.streamBatchProp(sinkId)
    // the mark rides `ref`'s manifests, so the replay guard reads that
    // chain (a main-side mark would let a recovered query double-commit
    // the batch onto a branch)
    if (io.catalog.streamBatchMark(table, propKey, ref).exists(_ >= batchId)) false
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(col(_).desc): _*)
      val winners = batch.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
      io.upsertMOR(table, winners, keyCols, partitionCols,
        props = Map(propKey -> batchId.toString), ref = ref)
      true
    }
  }

  /** Streaming CDC-apply, merge-on-read flavor: [[upsertStream]]'s
    * semantics (latest state per key, CDC source order) with
    * [[graft.io.TableIO.upsertMOR]]'s write cost — each micro-batch is
    * a zero-read equality-delete commit. Run applyDeletes/compact on a
    * cadence to fold the entry chain back into clean files.
    */
  def upsertStreamMOR(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                      keyCols: Seq[String], orderCols: Seq[String],
                      partitionCols: Seq[String] = Seq.empty,
                      availableNow: Boolean = false,
                      ref: Ref = Ref.Main): StreamingQuery = {
    val sid = Some(sinkIdOf(checkpoint))
    startForeachBatch(stream, checkpoint, availableNow) { (batch, id) =>
      commitUpsertMORBatch(io, table, id, batch, keyCols, orderCols, partitionCols,
        sid, ref); ()
    }
  }

  /** One FULL-CDC micro-batch commit: upserts AND delete events in one
    * zero-read equality-delete commit ([[graft.io.TableIO.cdcApplyMOR]]).
    * The batch reduces to its LATEST op per key first (greatest
    * `orderCols`), so a key that is updated then deleted within the
    * batch deletes, and deleted-then-reinserted reinserts — CDC source
    * order. Replay guard as everywhere: the mark rides the commit.
    */
  def commitCdcMORBatch(io: TableIO, table: String, batchId: Long, batch: DataFrame,
                        keyCols: Seq[String], orderCols: Seq[String],
                        opCol: String, deleteOp: String = "D",
                        partitionCols: Seq[String] = Seq.empty,
                        sinkId: Option[String] = None,
                        ref: Ref = Ref.Main): Boolean = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val propKey = TableCatalog.streamBatchProp(sinkId)
    if (io.catalog.streamBatchMark(table, propKey, ref).exists(_ >= batchId)) false
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(col(_).desc): _*)
      val winners = batch.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
      io.cdcApplyMOR(table, winners, keyCols, opCol, deleteOp, partitionCols,
        props = Map(propKey -> batchId.toString), ref = ref)
      true
    }
  }

  /** Streaming FULL-CDC apply, merge-on-read: the table mirrors the
    * latest state per key with DELETE events honored — rows whose
    * `opCol` equals `deleteOp` remove the key. Every micro-batch is
    * one zero-read equality-delete commit; applyDeletes/compaction
    * folds the chain on a cadence.
    */
  def cdcStreamMOR(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                   keyCols: Seq[String], orderCols: Seq[String],
                   opCol: String, deleteOp: String = "D",
                   partitionCols: Seq[String] = Seq.empty,
                   availableNow: Boolean = false,
                   ref: Ref = Ref.Main): StreamingQuery = {
    val sid = Some(sinkIdOf(checkpoint))
    startForeachBatch(stream, checkpoint, availableNow) { (batch, id) =>
      commitCdcMORBatch(io, table, id, batch, keyCols, orderCols, opCol, deleteOp,
        partitionCols, sid, ref); ()
    }
  }

  /** Merge-mode sink for IDEMPOTENT sketch states: each micro-batch is
    * reduced to its sketch relation by `toSketch` (e.g.
    * [[graft.functions.HyperLogLog.registers]]) and MAX-merged into
    * the table on `keyCols` — the streaming form of q102's
    * split-persist-merge, maintaining a distinct-count (or any
    * max-monoid) state table over an unbounded stream at
    * O(keys x registers) table size.
    *
    * Exactly-once needs NO batch mark here, unlike the append/upsert
    * sinks: max-merge is idempotent, so a replayed micro-batch
    * re-merges the same registers into the same state — the one sink
    * where at-least-once IS exactly-once. Additive sketch states
    * (Count-Min cell counts) are NOT idempotent and must not use this
    * sink without a mark (see [[additiveSketchMergeStream]]).
    */
  def sketchMergeStream(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                        toSketch: DataFrame => DataFrame,
                        keyCols: Seq[String], stateCol: String = "m",
                        availableNow: Boolean = false): StreamingQuery =
    startForeachBatch(stream, checkpoint, availableNow) { (batch, _) =>
      mergeSketch(io, table, toSketch(batch), keyCols, stateCol,
        org.apache.spark.sql.functions.max, Map.empty)
    }

  /** One additive micro-batch commit: sum-merge the batch's sketch
    * into the table unless the mark says this batch already merged.
    * Returns whether a merge happened — the directly-testable guard,
    * like [[commitUpsertBatch]].
    */
  def commitAdditiveSketchBatch(io: TableIO, table: String, batchId: Long, batch: DataFrame,
                                toSketch: DataFrame => DataFrame,
                                keyCols: Seq[String], stateCol: String,
                                propKey: String): Boolean = {
    def merged() = io.catalog.streamBatchMark(table, propKey).exists(_ >= batchId)
    if (merged()) false
    else {
      mergeSketch(io, table, toSketch(batch), keyCols, stateCol,
        org.apache.spark.sql.functions.sum, Map(propKey -> batchId.toString),
        alreadyMerged = () => merged())
      true
    }
  }

  /** Merge-mode sink for ADDITIVE sketch states (Count-Min cell
    * counts): each micro-batch's sketch relation SUM-merges into the
    * table on `keyCols`. Addition is NOT idempotent, so unlike
    * [[sketchMergeStream]] this sink carries the batch-id mark on the
    * overwrite commit — a replayed batch that already merged is a
    * no-op instead of double-counting, the same guard as the
    * append/upsert sinks. (That mark is checkpoint-lineage-keyed: a
    * restart with a FRESH checkpoint replays into the same state table
    * under a new key and would double-count — start a fresh state
    * table with a fresh lineage.)
    */
  def additiveSketchMergeStream(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                                toSketch: DataFrame => DataFrame,
                                keyCols: Seq[String], stateCol: String = "cnt",
                                availableNow: Boolean = false): StreamingQuery = {
    val propKey = TableCatalog.streamBatchProp(Some(sinkIdOf(checkpoint)))
    startForeachBatch(stream, checkpoint, availableNow) { (batch, id) =>
      commitAdditiveSketchBatch(io, table, id, batch, toSketch, keyCols, stateCol, propKey); ()
    }
  }

  def completeStream(stream: DataFrame, io: TableIO, table: String, checkpoint: String,
                     availableNow: Boolean = false): StreamingQuery =
    startForeachBatch(stream, checkpoint, availableNow, outputMode = Some("complete")) {
      (batch, _) => io.overwrite(batch, table)
    }
}
