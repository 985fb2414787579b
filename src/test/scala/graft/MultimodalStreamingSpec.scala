package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Ref
import graft.multimodal.Multimodal
import graft.streaming.EventsStream

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "Hello world"), (2L, "bb"), (3L, "x" * 200)).toDF("doc_id", "text")

  test("withBlob attaches binary payload and typed metadata") {
    val out = Multimodal.withBlob(docs)
    assert(out.schema("blob").dataType.typeName == "binary")
    val m = out.filter($"doc_id" === 1L).select("meta.*").head()
    assert(m.schema.fieldNames.toSeq == Seq("format", "width", "height", "channels", "n_bytes"))
  }

  test("metadata is deterministic byte-derived") {
    val m = Multimodal.metaStats(Multimodal.withBlob(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 'H' = 72: even → png, width = 32 + 72%64 = 40; len 11 → height 43
    assert(m(1L).getAs[String]("format") == "png")
    assert(m(1L).getAs[Int]("width") == 40)
    assert(m(1L).getAs[Int]("height") == 43)
    assert(m(1L).getAs[Long]("n_bytes") == 11L)
    assert(m(1L).getAs[Long]("n_pixels") == 40L * 43 * 3)
    // 'b' = 98: even → png; 'x' = 120 even → png, height = 32 + 200%64 = 40
    assert(m(3L).getAs[Int]("height") == 40)
  }

  test("decodeFeatures computes batch byte stats through mapPartitions") {
    val out = Multimodal.decodeFeatures(Multimodal.withBlob(docs), parallelism = Some(2))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // "bb" → bytes (98, 98) → mean 98.0; frames = 1 + 2/64 = 1
    assert(out(2L).getAs[Double]("mean_byte") == 98.0)
    assert(out(2L).getAs[Int]("frames_sampled") == 1)
    // 200 x's → frames = min(1 + 200/64, 16) = 4
    assert(out(3L).getAs[Double]("mean_byte") == 120.0)
    assert(out(3L).getAs[Int]("frames_sampled") == 4)
    assert(out(1L).getAs[Long]("n_bytes") == 11L)
  }

  test("fakeDecodeStats handles empty input") {
    assert(Multimodal.fakeDecodeStats(Array.empty[Byte]) == (0.0, 0))
    assert(Multimodal.fakeDecodeStats(null) == (0.0, 0))
  }
}

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly counts match batch aggregation semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")

    val q = EventsStream.hourlyCounts(df).writeStream
      .format("memory").queryName("hourly_test").outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 10:05:00"), "click", 1.0),
        (t("2024-01-01 10:55:00"), "click", 2.0),
        (t("2024-01-01 11:05:00"), "view", 4.0)
      )
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 11:00 windows
      input.addData((t("2024-01-02 00:00:00"), "noise", 0.0))
      q.processAllAvailable()
      val rows = spark.table("hourly_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_ts").toString, r.getAs[String]("event_type")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
      assert(rows(("2024-01-01 10:00:00.0", "click")) == (2L, 3.0))
      assert(rows(("2024-01-01 11:00:00.0", "view")) == (1L, 4.0))
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicate ids, keeps distinct ones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "event_id", "event_type")
    val q = EventsStream.dedupedEvents(df).writeStream
      .format("memory").queryName("dedup_test").outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 10:00:00"), 1L, "click"),
        (t("2024-01-01 10:01:00"), 1L, "click_dup"),   // same id inside watermark
        (t("2024-01-01 10:02:00"), 2L, "view")
      )
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:03:00"), 1L, "click_dup2")) // still duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("event_type"))
      assert(ids.sorted.toSeq == Seq(1L -> "click", 2L -> "view"),
        s"expected first occurrence per id, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream view->click join: same-user within-horizon pairs only, equals batch join") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, String, java.sql.Timestamp)]) =
      m.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = EventsStream.viewClickJoin(df(views), df(clicks), horizonHours = 6)
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      views.addData(
        (1L, 1L, "view", t("2024-01-01 10:00:00")),
        (5L, 1L, "view", t("2024-01-01 10:20:00")),
        (6L, 2L, "click", t("2024-01-01 10:05:00"))) // wrong type on this side
      clicks.addData(
        (2L, 1L, "click", t("2024-01-01 10:30:00")), // inside both horizons
        (3L, 1L, "click", t("2024-01-01 17:00:00")), // > 6h after both views
        (4L, 2L, "click", t("2024-01-01 10:15:00"))) // no view for user 2
      q.processAllAvailable()
      val pairs = spark.table("ssj_test").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
      assert(pairs == Set((1L, 2L), (5L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  test("TableSink commits one snapshot per micro-batch and skips replayed batch ids") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val io = graft.io.TableIO(spark, wh)
    val t = "default.stream_t"
    val b0 = Seq((1L, "a")).toDF("id", "s")
    val b1 = Seq((2L, "b")).toDF("id", "s")
    assert(graft.streaming.TableSink.commitStreamBatch(io, t, 0L, b0))
    assert(graft.streaming.TableSink.commitStreamBatch(io, t, 1L, b1))
    // at-least-once replay of batch 1: no duplicate snapshot, no duplicate rows
    assert(!graft.streaming.TableSink.commitStreamBatch(io, t, 1L, b1))
    assert(io.versions(t) == Seq(1, 2))
    assert(io.read(t).count() == 2)

    // the mark is INSIDE the manifest commit (atomic with the rows) —
    // no second file whose write could be torn or lost in a crash
    assert(io.catalog.manifestProps(t, 2).get("streamBatchId").contains("1"))
    assert(io.catalog.streamBatchMark(t).contains(1L))
    assert(!java.nio.file.Files.exists(
      io.catalog.metaPath(t).resolve("stream_batch.txt")))
    // a non-stream commit interleaving after the stream's last batch
    // doesn't erase the mark: the scan walks back to the newest
    // stream-marked snapshot, so the replay is still a no-op
    io.append(Seq((99L, "z")).toDF("id", "s"), t)
    assert(io.catalog.manifestProps(t, 3).isEmpty)
    assert(io.catalog.streamBatchMark(t).contains(1L))
    assert(!graft.streaming.TableSink.commitStreamBatch(io, t, 1L, b1))
    assert(io.read(t).count() == 3)

    // end-to-end through a real stream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt_").toString
    val q = graft.streaming.TableSink.appendStream(
      input.toDF().toDF("id", "s"), io, "default.stream_e2e", ckpt)
    try {
      input.addData((10L, "x"), (11L, "y"))
      q.processAllAvailable()
      input.addData((12L, "z"))
      q.processAllAvailable()
      assert(io.read("default.stream_e2e").count() == 3)
      assert(io.versions("default.stream_e2e").size == 2) // one snapshot per micro-batch
    } finally q.stop()
  }

  test("completeStream overwrites per batch: table always holds the full aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_cs_").toString
    val io = graft.io.TableIO(spark, wh)
    val t = "default.cs_agg"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cs_ckpt_").toString
    val q = graft.streaming.TableSink.completeStream(
      EventsStream.hourlyCounts(
        input.toDF().toDF("ts", "event_type", "value"), exactValue = true),
      io, t, ckpt)
    try {
      input.addData((ts("2024-01-01 10:05:00"), "a", 1.0), (ts("2024-01-01 10:40:00"), "a", 2.0))
      q.processAllAvailable()
      val after1 = io.read(t).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_ts"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(after1 == Set((ts("2024-01-01 10:00:00"), "a", 2L, 3.0)), after1)
      // a later batch RESTATES the whole result (old window updated,
      // new window added) — one atomic overwrite, not an append
      input.addData((ts("2024-01-01 10:55:00"), "a", 4.0), (ts("2024-01-01 11:10:00"), "b", 8.0))
      q.processAllAvailable()
      val after2 = io.read(t).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_ts"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(after2 == Set(
        (ts("2024-01-01 10:00:00"), "a", 3L, 7.0),
        (ts("2024-01-01 11:00:00"), "b", 1L, 8.0)), after2)
      // one snapshot per batch, each a full overwrite
      assert(io.versions(t).size == 2)
    } finally q.stop()
  }

  test("frameSample: exact-multiple blobs emit no phantom empty frame") {
    val docs = Seq(
      (1L, "x" * 64),   // exactly one stride -> exactly one frame
      (2L, "y" * 65),   // one byte over -> two frames, second 1 byte
      (3L, "z" * 10)    // under one stride -> one short frame
    ).toDF("doc_id", "text")
    val frames = graft.multimodal.Multimodal
      .frameSample(graft.multimodal.Multimodal.withBlob(docs))
      .select($"doc_id", $"frame_idx", $"frame_len").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(frames == Set((1L, 0, 16), (2L, 0, 16), (2L, 1, 1), (3L, 0, 10)), frames)
  }

  test("appendStream availableNow drains the source, commits exactly once, then stops") {
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.tables.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
    val src = java.nio.file.Files.createTempDirectory("graft_an_src_").toString
    batch.write.mode("overwrite").parquet(src)

    val io = graft.io.TableIO(spark,
      java.nio.file.Files.createTempDirectory("graft_an_wh_").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_an_ckpt_").toString
    val stream = EventsStream.dedupedEvents(
      spark.readStream.schema(batch.schema).parquet(src))
    val q = graft.streaming.TableSink.appendStream(
      stream, io, "default.an_events", ckpt, availableNow = true)
    // AvailableNow terminates by itself once the source is drained
    assert(q.awaitTermination(120000), "availableNow query did not self-terminate")

    assert(io.read("default.an_events").count() == batch.count())
    // a RESTART from the same checkpoint with no new files is a no-op:
    // no new snapshot, no duplicate rows
    val versionsAfter = io.versions("default.an_events")
    val q2 = graft.streaming.TableSink.appendStream(
      stream, io, "default.an_events", ckpt, availableNow = true)
    assert(q2.awaitTermination(120000))
    assert(io.versions("default.an_events") == versionsAfter)
    assert(io.read("default.an_events").count() == batch.count())
  }

  test("availableNow restart drains only files added since the last run (incremental exactly-once)") {
    // the nightly-ingest pattern: drain, stop, new files land, a NEW
    // query object restarts from the same checkpoint — the file
    // source's offset log must skip everything already committed and
    // the sink must append exactly the new rows
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.tables.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
    // split by EVENT TIME, not by id: the restart replays from the
    // checkpointed watermark, so a second batch carrying old
    // timestamps would be LATE data that the stateful dedup operator
    // CORRECTLY drops (verified: an id-parity split loses everything
    // but the final watermark horizon). New files carrying newer
    // events is also what a real ingest bus delivers.
    val mid = batch.agg(expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)"))
      .as[Double].head()
    val firstHalf = batch.filter($"ts".cast("double") <= mid)
    val secondHalf = batch.filter($"ts".cast("double") > mid)
    val src = java.nio.file.Files.createTempDirectory("graft_rs_src_").toString
    firstHalf.write.mode("overwrite").parquet(src)

    val io = graft.io.TableIO(spark,
      java.nio.file.Files.createTempDirectory("graft_rs_wh_").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_ckpt_").toString
    def drain(): Unit = {
      val stream = EventsStream.dedupedEvents(
        spark.readStream.schema(batch.schema).parquet(src))
      val q = graft.streaming.TableSink.appendStream(
        stream, io, "default.rs_events", ckpt, availableNow = true)
      assert(q.awaitTermination(120000), "availableNow query did not self-terminate")
    }
    drain()
    assert(io.read("default.rs_events").count() == firstHalf.count())

    // new files land between runs (append = fresh part files)
    secondHalf.write.mode("append").parquet(src)
    drain()
    val got = io.read("default.rs_events").select("event_id").as[Long].collect().sorted
    val want = batch.select("event_id").as[Long].collect().sorted
    assert(got.length == want.length, s"restart drained ${got.length} rows, want ${want.length}")
    assert(got.sameElements(want), "restart must append exactly the new rows — no dupes, no gaps")
  }

  test("file-source stream over the real events table matches batch hourly counts") {
    // stream the parquet file through readStream (schema must be
    // explicit for file sources) and compare against the batch rollup
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.tables.Tables.events(spark, sfDir)
      .select($"ts", $"event_type", $"value")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src_").toString
    batch.write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventsStream.hourlyCounts(streamed).writeStream
      .format("memory").queryName("file_hourly_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append()).start()
    try q.awaitTermination(120000) finally q.stop()

    // Append mode only emits windows the watermark has passed; compare
    // those that were emitted against the batch aggregate — and require
    // substantial coverage (everything except the trailing watermark
    // horizon can close).
    val streamRows = spark.table("file_hourly_test").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_ts"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    val batchRows = batch
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_ts"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    assert(streamRows.nonEmpty, "stream emitted no closed windows")
    streamRows.foreach { case (key, v) =>
      assert(batchRows(key) == v, s"window $key diverged from batch")
    }
    assert(streamRows.size >= batchRows.size / 2, "most windows should have closed")
  }

  test("restart with a FRESH checkpoint commits its batches (marks are per query lineage)") {
    // A previous incarnation ran this table to batch id 5. A new query
    // with a NEW checkpoint restarts batch ids at 0 — comparing them
    // against the old lineage's high-water mark would silently drop
    // every batch (data loss, not dedup).
    val wh = java.nio.file.Files.createTempDirectory("graft_sinkid_").toString
    val io = graft.io.TableIO(spark, wh)
    val t = "default.relineage_t"
    // old lineage: batch id 5 under its own sink id
    assert(graft.streaming.TableSink.commitStreamBatch(
      io, t, 5L, Seq((1L, "old")).toDF("id", "s"), sinkId = Some("lineageA")))
    // new lineage starts at 0: must COMMIT, not be swallowed by the old mark
    assert(graft.streaming.TableSink.commitStreamBatch(
      io, t, 0L, Seq((2L, "new")).toDF("id", "s"), sinkId = Some("lineageB")))
    assert(io.read(t).count() == 2)
    // each lineage's replay still dedups against its OWN mark
    assert(!graft.streaming.TableSink.commitStreamBatch(
      io, t, 5L, Seq((1L, "old")).toDF("id", "s"), sinkId = Some("lineageA")))
    assert(!graft.streaming.TableSink.commitStreamBatch(
      io, t, 0L, Seq((2L, "new")).toDF("id", "s"), sinkId = Some("lineageB")))
    assert(io.read(t).count() == 2)
    // end-to-end: same stream, two different checkpoints => both drain
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData((10L, "x"))
    val ck1 = java.nio.file.Files.createTempDirectory("graft_ck1_").toString
    val q1 = graft.streaming.TableSink.appendStream(
      input.toDF().toDF("id", "s"), io, "default.relineage_e2e", ck1, availableNow = true)
    q1.awaitTermination()
    val ck2 = java.nio.file.Files.createTempDirectory("graft_ck2_").toString
    val q2 = graft.streaming.TableSink.appendStream(
      input.toDF().toDF("id", "s"), io, "default.relineage_e2e", ck2, availableNow = true)
    q2.awaitTermination()
    // fresh checkpoint re-reads the source from scratch: its batch 0
    // must land even though the first lineage also committed a batch 0
    assert(io.read("default.relineage_e2e").count() == 2)
  }

  test("streaming sessionization merges late events with monotone bounds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventsStream.Ev]
    val q = EventsStream.sessionize(input.toDS(), gapMinutes = 30,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()).writeStream
      .format("memory").queryName("sessions_late_test").outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(EventsStream.Ev(1L, t("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // LATE event (previous micro-batch's past): merges without
      // dragging lastSeen backwards...
      input.addData(EventsStream.Ev(1L, t("2024-01-01 09:45:00"), 2.0))
      q.processAllAvailable()
      // ...so this on-time event 20min after the true lastSeen must
      // NOT close the session (a regressed lastSeen=09:45 would see
      // a 35min false gap)
      input.addData(EventsStream.Ev(1L, t("2024-01-01 10:20:00"), 4.0))
      q.processAllAvailable()
      // close by real gap; the emitted session must span min..max ts
      input.addData(EventsStream.Ev(1L, t("2024-01-01 12:00:00"), 8.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_late_test").as[EventsStream.SessionOut].collect()
      assert(rows.length == 1, s"expected one closed session, got ${rows.toSeq}")
      val s = rows.head
      assert(s.n_events == 3L)
      assert(s.session_start.toString == "2024-01-01 09:45:00.0")
      assert(s.session_end.toString == "2024-01-01 10:20:00.0")
      assert(s.total_value == 7.0)
      assert(!s.session_end.before(s.session_start))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventsStream.Ev]
    val q = EventsStream.sessionize(input.toDS(), gapMinutes = 30,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()).writeStream
      .format("memory").queryName("sessions_test").outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        EventsStream.Ev(1L, t("2024-01-01 10:00:00"), 1.0),
        EventsStream.Ev(1L, t("2024-01-01 10:10:00"), 2.0),
        EventsStream.Ev(1L, t("2024-01-01 11:00:00"), 4.0) // gap 50min → closes session 1
      )
      q.processAllAvailable()
      val rows = spark.table("sessions_test").as[EventsStream.SessionOut].collect()
      assert(rows.length == 1)
      assert(rows.head.user_id == 1L)
      assert(rows.head.n_events == 2L)
      assert(rows.head.total_value == 3.0)
      assert(rows.head.session_end.toString == "2024-01-01 10:10:00.0")
    } finally q.stop()
  }
}

/** sketchMergeStream: streaming HLL register maintenance — replay
  * idempotence (the no-batch-mark exactly-once claim) and
  * mergeability against the one-pass batch sketch.
  */
class SketchMergeStreamSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.HyperLogLog
  import graft.io.TableIO
  import graft.streaming.TableSink

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("streamed register state equals the batch sketch, and a full replay is a no-op") {
    val src = tmp("graft_skms_src_")
    val rows = (1 to 3000).map(i => (s"u${i % 700}", if (i % 2 == 0) "click" else "view"))
      .toDF("user_id", "event_type")
    // several files -> several micro-batches (maxFilesPerTrigger=1)
    rows.repartition(4).write.parquet(s"$src/ev")
    val io = TableIO(spark, tmp("graft_skms_wh_"))
    val t = "default.regs"
    def drain(ckpt: String): Unit =
      TableSink.sketchMergeStream(
        spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", "1").parquet(s"$src/ev"),
        io, t, ckpt,
        b => HyperLogLog.registers(b, "user_id", Seq("event_type")),
        Seq("event_type", "reg"), availableNow = true)
        .awaitTermination()

    drain(tmp("graft_skms_ck1_"))
    val streamed = io.read(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val batch = HyperLogLog.registers(rows, "user_id", Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed === batch, "micro-batch max-merge must equal the one-pass sketch")

    // FRESH checkpoint = full at-least-once replay of every file; the
    // state must be bit-identical afterwards (max-merge idempotence —
    // the reason this sink needs no batch mark)
    val vBefore = io.catalog.currentVersion(t).get
    drain(tmp("graft_skms_ck2_"))
    val replayed = io.read(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(replayed === batch, "full replay must not move the state")
    assert(io.catalog.currentVersion(t).get > vBefore, "replay batches still commit (harmlessly)")

    // and the estimates read off the maintained state match the direct path
    val a = HyperLogLog.estimateFromRegisters(io.read(t), Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val b = HyperLogLog.estimate(rows, "user_id", Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(a === b)
  }

  test("branch-append stream: replay refused by the branch mark; main untouched until fast-forward") {
    val io = TableIO(spark, tmp("graft_brs_wh_"))
    val t = "default.brs"
    io.append((1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), t)
    io.createBranch(t, "ingest")
    val b0 = (11 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    val b1 = (21 to 25).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    def commit(id: Long, b: org.apache.spark.sql.DataFrame) =
      TableSink.commitStreamBatch(io, t, id, b, sinkId = Some("brs-test"), ref = Ref.Branch("ingest"))

    assert(commit(0L, b0))
    assert(commit(1L, b1))
    // a crash-replay of batch 1 must not land twice on the branch
    assert(!commit(1L, b1), "replayed batch must be refused by the branch mark")
    assert(io.read(t, Ref.Branch("ingest")).count() === 25)
    assert(io.read(t).count() === 10, "main must not see branch batches")
    io.fastForward(t, "ingest")
    assert(io.read(t).count() === 25)
    assert(io.read(t).select("id").as[Long].collect().sorted === (1L to 25L).toArray)
  }

  test("additive (Count-Min) merge needs the batch mark: a replayed batch is a no-op") {
    import graft.functions.CountMin
    val io = TableIO(spark, tmp("graft_cmsm_wh_"))
    val t = "default.cells"
    val propKey = graft.io.TableCatalog.streamBatchProp(Some("cms-test"))
    val b0 = (1 to 500).map(i => s"u${i % 50}").toDF("k")
    val b1 = (1 to 300).map(i => s"u${i % 30}").toDF("k")
    def commit(id: Long, b: org.apache.spark.sql.DataFrame) =
      TableSink.commitAdditiveSketchBatch(io, t, id, b,
        d => CountMin.sketch(d, "k"), Seq("row", "bucket"), "cnt", propKey)

    assert(commit(0L, b0))
    assert(commit(1L, b1))
    val after = io.read(t).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // a crash-replay of batch 1 must NOT double-count
    assert(!commit(1L, b1), "replayed batch must be refused by the mark")
    assert(io.read(t).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet === after)
    // and the maintained state equals the one-pass sketch of all rows
    val whole = CountMin.sketch(b0.unionAll(b1), "k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(after === whole)
  }
}
