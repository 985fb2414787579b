package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing
  * span (0 at the top); every span of one process shares `runId`.
  */
final case class Span(runId: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** The traced run's recorder: spans kept in memory, plus the Spark
  * listeners and the program's own counters read across each traced
  * iteration. Nothing is recorded while `active` is false, so the
  * untraced iterations of a traced run and the untraced run itself pay
  * only a volatile read per span site.
  */
final class Trace(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var active = false

  // executor side (SparkListener) — totals over traced iterations
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tasks = 0L
  private var taskMs = 0L
  private var gcMs = 0L
  private var inputBytes = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  // Catalyst planning (QueryExecutionListener) — summed phase ms
  private val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  // table layer: graft.io.Timers labels and the write audit, as deltas
  private val timerTotals = mutable.Map.empty[String, (Double, Long)].withDefaultValue((0.0, 0L))
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var wallMs = 0.0
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  def isActive: Boolean = active

  /** Run `f` as one traced iteration: listeners on, spans recorded. */
  def traced[T](f: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(execListener)
    spark.listenerManager.register(planListener)
    val timers0 = graft.io.Timers.snapshot().map(t => t._1 -> (t._2, t._3)).toMap
    val files0 = graft.io.TableIO.filesWritten.get()
    val bytes0 = graft.io.TableIO.bytesWritten.get()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    active = true
    try f
    finally {
      active = false
      wallMs += (System.nanoTime() - t0) / 1e6
      windows += ((w0, System.currentTimeMillis()))
      // listener events are delivered asynchronously: let the bus drain
      // before the listeners come off
      Thread.sleep(300)
      sc.removeSparkListener(execListener)
      spark.listenerManager.unregister(planListener)
      filesWritten += graft.io.TableIO.filesWritten.get() - files0
      bytesWritten += graft.io.TableIO.bytesWritten.get() - bytes0
      graft.io.Timers.snapshot().foreach { case (label, sec, calls) =>
        val (s0, c0) = timers0.getOrElse(label, (0.0, 0L))
        val (s, c) = timerTotals(label)
        timerTotals(label) = (s + sec - s0, c + calls - c0)
      }
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized(spans += Span(runId, id, parents.headOption.getOrElse(0), name, t0, t1))
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toVector)

  /** Seconds spent in spans named `name`. */
  def spanSeconds(name: String): Double =
    allSpans.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Self time per span name: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Trace.unionLength(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        s.durNs - covered
      }.sum / 1e9
    }
  }

  private def timerMetrics: Map[String, Double] =
    Trace.TimerLabels.flatMap { l =>
      val (s, c) = timerTotals(l)
      Seq(s"io.${l}_s" -> s, s"io.${l}_calls" -> c.toDouble)
    }.toMap

  /** Per-layer metrics of the executor, planner and table counters. */
  def layerMetrics: Map[String, Double] = synchronized {
    val clipped = jobIntervals.toSeq.flatMap { case (s, e) =>
      windows.collectFirst { case (w0, w1) if s >= w0 && s <= w1 => (s, math.min(e, w1)) }
    }
    val jobWallS = Trace.unionLength(clipped) / 1e3
    Map(
      "exec.jobs" -> clipped.size.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.job_wall_s" -> jobWallS,
      "exec.task_s" -> taskMs / 1e3,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.input_bytes" -> inputBytes.toDouble,
      "exec.shuffle_read_bytes" -> shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "exec.driver_gap_s" -> (wallMs / 1e3 - jobWallS),
      "trace.wall_s" -> wallMs / 1e3,
      "plan.analysis_ms" -> phases("analysis").toDouble,
      "plan.optimization_ms" -> phases("optimization").toDouble,
      "plan.planning_ms" -> phases("planning").toDouble,
      "io.files_written" -> filesWritten.toDouble,
      "io.bytes_written" -> bytesWritten.toDouble
    ) ++ timerMetrics
  }
}

object Trace {
  /** The `graft.io.Timers` labels on the commit path. */
  val TimerLabels: Seq[String] = Seq(
    "stageWrite.writeJob", "stageWrite.writeJobFast", "stageWrite.move",
    "commit.manifestJson", "commit.stats", "dml.pruneProbe", "dml.conflictProbe")

  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
