package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Fixed costs and box health, measured in every run after the
  * measured window through public calls: the floors a per-operation
  * latency cannot go below — an empty job, a one-file commit, one
  * AvailableNow micro-batch — and two probes that attribute a noisy run
  * to the machine (the CPU loop and create+fsync probes of
  * `graft.Bench`).
  */
object Floors {
  def measure(spark: SparkSession, dir: Path): Map[String, Double] = {
    import spark.implicits._
    val io = graft.io.TableIO(spark, dir.resolve("wh").toString)
    val emptyJob = (0 until 7).map(_ => Stats.timeMs(spark.sparkContext.parallelize(Seq(1), 1).count())._2)
    val oneFile = Seq(1L).toDF("k")
    val commit = (0 until 5).map(_ => Stats.timeMs(io.append(oneFile, "default.floor"))._2)
    // one AvailableNow micro-batch over one new drop file, split into
    // start, drain (the trigger) and stop, with the trigger's progress
    // durations: the streaming layer's fixed cost
    val src = Files.createDirectories(dir.resolve("stream_src")).toString
    val batches = (0 until 3).map { i =>
      Seq(i.toLong).toDF("k").coalesce(1).write.mode("append").parquet(src)
      val (q, startMs) = Stats.timeMs(graft.streaming.TableSink.appendStream(
        spark.readStream.schema(oneFile.schema).parquet(src), io, "default.floor_stream",
        dir.resolve("ckpt").toString, availableNow = true))
      val (_, waitMs) = Stats.timeMs(q.awaitTermination())
      val progress = q.recentProgress.toSeq
      def d(k: String): Double = progress.flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue).sum
      Map("floor.available_now_batch_ms" -> (startMs + waitMs), "stream.start_ms" -> startMs,
        "stream.drain_ms" -> d("triggerExecution"), "stream.stop_ms" -> (waitMs - d("triggerExecution"))) ++
        StreamDurations.map(k => s"stream.${k}_ms" -> d(k))
    }
    cpuCanaryMs(RunIters); cpuCanaryMs(RunIters) // JIT-warm the loop
    batches.head.keys.map(k => k -> Stats.median(batches.map(_(k)))).toMap ++ Map(
      "floor.empty_job_ms" -> Stats.median(emptyJob),
      "floor.one_file_commit_ms" -> Stats.median(commit),
      "box.cpu_canary_ms" -> cpuCanaryMs(FullIters),
      "box.fsync_p50_ms" -> fsyncP50Ms(dir.resolve("fsync")))
  }

  private val StreamDurations = Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")

  private val FullIters = 200000000L
  private val RunIters = 25000000L

  private def cpuCanaryMs(iters: Long): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < iters) { acc ^= i * 0x9e3779b97f4a7c15L; i += 1 }
    if (acc == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e6
  }

  private def fsyncP50Ms(dir: Path, ops: Int = 30): Double = {
    Files.createDirectories(dir)
    val lat = (0 until ops).map { i =>
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f$i"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](4096)))
      ch.force(true); ch.close()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(lat)
  }
}
