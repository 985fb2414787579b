package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded run's wall-clock window and its `Timers` delta. */
private[graft] final case class RunWindow(label: String, startMs: Long, endMs: Long,
    wallS: Double, timers: Map[String, (Double, Long)])

/** One completed Spark stage: wall is submission to completion. */
private[graft] final case class StageRun(id: Int, tasks: Int, submittedMs: Long, wallMs: Long,
    name: String, shuffleRead: Long, shuffleWrite: Long)

/** Where one timed run's time went (Dremel's lesson at this scale:
  * fixed costs dominate, and only a per-stage split exposes them).
  *   - `jobS`: the union of the run's Spark job intervals; the rest of
  *     the wall (`gapS`) is driver time — planning, commit machinery,
  *     metadata IO, fsyncs — that job metrics never see;
  *   - `phaseMs`: Catalyst analysis / optimization / planning ms;
  *   - `timers`: `graft.io.Timers` (seconds, calls) for this run only;
  *   - `slowest`: the five longest stages.
  */
private[graft] final case class RunLayers(label: String, wallS: Double, jobIds: Seq[Int],
    jobS: Double, phaseMs: Map[String, Long], shuffleRead: Long, shuffleWrite: Long,
    timers: Map[String, (Double, Long)], slowest: Seq[StageRun]) {
  def gapS: Double = wallS - jobS

  def json: String = {
    import Bench.{jsonString, r4}
    val ts = timers.toSeq.sortBy(-_._2._1)
      .map { case (k, (s, n)) => s"""${jsonString(k)}:{"s":${r4(s)},"calls":$n}""" }
    val ss = slowest.map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"wall_ms":${s.wallMs},"name":${jsonString(s.name)}}""")
    def ph(p: String) = s""""${p}_ms":${phaseMs.getOrElse(p, 0L)}"""
    s"""{"wall_s":${r4(wallS)},"jobs":${jobIds.size},"job_s":${r4(jobS)},"gap_s":${r4(gapS)},""" +
      s"""${ph("analysis")},${ph("optimization")},${ph("planning")},""" +
      s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
      s""""timers":${ts.mkString("{", ",", "}")},"slowest_stages":${ss.mkString("[", ",", "]")}}"""
  }
}

/** Per-run layer split for the measurement harness. The listeners stay
  * attached for the whole pass and only collect timestamped events;
  * `record` marks each run's wall-clock window (and takes the
  * driver-side `Timers` delta synchronously), and `finish` drains the
  * listener bus once, then attributes every job, stage and planning
  * phase to the run whose window holds its own start time. Nothing
  * waits per run, so the split costs the timed region two clock reads
  * and two `Timers` snapshots.
  */
private[graft] final class LayerRecorder(spark: SparkSession) {
  private val windows = mutable.ArrayBuffer.empty[RunWindow]
  private val jobs = mutable.Map.empty[Int, (Long, Long)] // id -> (start, end) ms
  private val stages = mutable.ArrayBuffer.empty[StageRun]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, start, ms)
  private val Fence = "graft-layer-recorder-fence"
  private val fenced = new CountDownLatch(1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = LayerRecorder.this.synchronized {
      jobs(e.jobId) = (e.time, Long.MaxValue)
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == Fence))
        fenced.countDown()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = LayerRecorder.this.synchronized {
      jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = LayerRecorder.this.synchronized {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stages += StageRun(si.stageId, si.numTasks, s, c - s, si.name.take(70),
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }
  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = LayerRecorder.this.synchronized {
      qe.tracker.phases.foreach { case (p, s) => phases += ((p, s.startTimeMs, s.durationMs)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  private def timerTotals(): Map[String, (Double, Long)] =
    graft.io.Timers.snapshot().map { case (k, s, n) => k -> (s, n) }.toMap

  /** Runs `f` as one recorded run labelled `label`. */
  def record[T](label: String)(f: => T): T = {
    // windows never share a millisecond, so every event has one owner
    val last = synchronized(windows.lastOption.fold(Long.MinValue)(_.endMs))
    while (System.currentTimeMillis() <= last) Thread.onSpinWait()
    val timers0 = timerTotals()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wallS = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val delta = timerTotals().map { case (k, (s, n)) =>
        val (s0, n0) = timers0.getOrElse(k, (0.0, 0L))
        k -> (s - s0, n - n0)
      }.filter(_._2._2 > 0)
      synchronized(windows += RunWindow(label, w0, w1, wallS, delta))
    }
  }

  /** Detaches the listeners and returns every recorded run, in order.
    * A fence job's start is the drain point: one listener queue
    * delivers events in order, so every earlier event has been seen.
    */
  def finish(): Seq[RunLayers] = {
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(desc)
    if (!fenced.await(30, TimeUnit.SECONDS))
      System.err.println("[layers] listener bus did not drain in 30 s; records may be short")
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    synchronized(windows.toSeq.map(resolve))
  }

  private def resolve(w: RunWindow): RunLayers = {
    def in(t: Long) = t >= w.startMs && t <= w.endMs
    val js = jobs.toSeq.collect { case (id, (s, e)) if in(s) => id -> (s, math.min(e, w.endMs)) }
    val ss = stages.filter(s => in(s.submittedMs)).toSeq
    val ph = phases.toSeq.collect { case (p, s, ms) if in(s) => p -> ms }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val jobS = math.min(unionMs(js.map(_._2)) / 1e3, w.wallS)
    RunLayers(w.label, w.wallS, js.map(_._1).sorted, jobS, ph,
      ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum, w.timers,
      ss.sortBy(-_.wallMs).take(5))
  }

  /** Length of the union of `[start, end]` intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
