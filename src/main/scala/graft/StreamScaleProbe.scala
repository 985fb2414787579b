package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** 10x scale probe for the STREAMING rows (VERDICT r12 item 6): q48's
  * watermark-bounded dedup, q61's windowed aggregate, q72's
  * stream-stream join. The batch rows are probed by [[ScaleProbe]];
  * this one exists because streaming scale safety is a claim about
  * STATE, not wall time — "state is watermark-bounded" must be a
  * measured `numRowsRemoved > 0` and a `max(numRowsTotal) << input
  * rows`, not an assertion in a comment.
  *
  * Method: the finite events fixture replays as a TIME-CHUNKED file
  * stream — events sorted by ts, split into `Chunks` sequential
  * files, consumed one file per micro-batch (`maxFilesPerTrigger=1`).
  * Each batch advances the watermark ~30/Chunks days, so state that
  * the watermark should evict IS evicted mid-run, exactly as on an
  * unbounded production stream; a single-batch drain (what the
  * oracle-row queries do under AvailableNow on a one-file fixture)
  * would instead buffer everything and evict nothing, measuring
  * nothing. Per-batch `StreamingQueryProgress.stateOperators` is the
  * measurement.
  *
  * Scale claims under test, at 10x users (sf1sim keeps per-user event
  * counts constant — [[ScaleProbe.buildSim]]):
  *  - dedup state peaks at O(events inside the 2h watermark horizon),
  *    not O(stream length);
  *  - window-agg state peaks at O(open windows x event types) — flat
  *    in users;
  *  - join state peaks at O(views+clicks inside watermark + horizon),
  *    and rows are evicted as the watermark passes them.
  * Emits one JSON line per (probe, scale).
  */
object StreamScaleProbe {
  private val Chunks = 16

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val simDir = args.headOption.getOrElse("/tmp/graft_sf1sim")
    val spark = SessionFactory.build("graft-stream-scale-probe")

    val scales = Seq("sf0.1" -> srcDir, "sf1sim" -> simDir)
      .filter { case (_, d) => Files.exists(Paths.get(d, "events.parquet")) }
    scales.foreach { case (scale, dir) =>
      val replayDir = s"/tmp/graft_stream_replay_$scale"
      buildReplay(spark, dir, replayDir)
      probe(spark, scale, replayDir)
    }
    spark.stop()
  }

  /** Sort the fixture by ts and lay it out as `Chunks` sequential
    * parquet files with ascending mtimes, so the file source replays
    * them in event-time order one batch apiece.
    */
  private def buildReplay(spark: SparkSession, dir: String, replayDir: String): Unit = {
    val done = Paths.get(replayDir, "_REPLAY_DONE")
    // Stamp with the SOURCE fixture's identity (its _SIM_DONE content
    // when it is a built sim, else the dir): a rebuilt sim fixture
    // (mode switch / FixtureRev bump) must rebuild the replay too, not
    // silently reuse the previous fixture's chunks.
    val srcMark = Paths.get(dir, "_SIM_DONE")
    val stamp = s"$dir:${if (Files.exists(srcMark)) Files.readString(srcMark).trim else "static"}"
    if (Files.exists(done) && Files.readString(done).trim == stamp) return
    val ev = graft.tables.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val n = ev.count()
    val per = (n + Chunks - 1) / Chunks
    // one global sort, then chunk by row rank: each chunk is a
    // contiguous time slice, the shape of a day's worth of arriving
    // files on a real ingest bus. Persisted: the single-partition
    // global sort would otherwise re-execute once PER CHUNK (16
    // sequential one-task sorts of the whole fixture).
    val ranked = ev.withColumn("_rk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Files.createDirectories(Paths.get(replayDir))
    (0 until Chunks).foreach { i =>
      val tmp = s"$replayDir/_build_$i"
      ranked.filter(col("_rk") > i * per && col("_rk") <= (i + 1) * per).drop("_rk")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val ls = Files.list(Paths.get(tmp))
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get() finally ls.close()
      val dst = Paths.get(replayDir, f"chunk_$i%02d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    ranked.unpersist()
    Files.writeString(done, stamp)
  }

  private def fileStream(spark: SparkSession, replayDir: String): DataFrame = {
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk_*.parquet")
      .parquet(replayDir)
  }

  private def probe(spark: SparkSession, scale: String, replayDir: String): Unit = {
    def run(name: String, out: DataFrame): Unit = {
      val ckpt = Files.createTempDirectory("graft_ssp_").toString
      val t0 = System.nanoTime()
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      q.processAllAvailable()
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val input = progress.map(_.numInputRows).sum
      val ops = progress.flatMap(_.stateOperators)
      val maxState = if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
      val removed = ops.map(_.numRowsRemoved).sum
      val lastWm = progress.lastOption.flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
      println(s"""{"probe":"$name","scale":"$scale","wall":${math.rint(wall * 100) / 100},"batches":${progress.length},"input_rows":$input,"max_state_rows":$maxState,"state_rows_removed":$removed,"final_watermark":"$lastWm"}""")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    run("q48_dedup_state",
      graft.streaming.EventsStream.dedupedEvents(fileStream(spark, replayDir)))
    run("q61_window_state",
      graft.streaming.EventsStream.hourlyCounts(fileStream(spark, replayDir)))
    run("q72_join_state",
      graft.streaming.EventsStream.viewClickJoin(
        fileStream(spark, replayDir), fileStream(spark, replayDir)))
  }
}
