package graft.io

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Nanosecond accounting for DRIVER-SIDE machinery (commit staging,
  * manifest IO, stats reads, DML planning probes) — the time the
  * per-job Spark listener metrics cannot see (guide §7.3: "driver
  * gap"). Near-zero overhead (two nanoTime reads + a LongAdder per
  * labelled block); always on, read per run by `graft.Bench`'s
  * `LayerRecorder`, by perfbench's traced run and by tests.
  */
object Timers {
  private val totals = new ConcurrentHashMap[String, LongAdder]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()

  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      totals.computeIfAbsent(label, _ => new LongAdder).add(dt)
      counts.computeIfAbsent(label, _ => new LongAdder).increment()
    }
  }

  /** (label, total seconds, calls) sorted by total, descending. */
  def snapshot(): Seq[(String, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    totals.asScala.toSeq
      .map { case (k, v) => (k, v.sum() / 1e9, counts.get(k).sum()) }
      .sortBy(-_._2)
  }
}
