package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: a pipeline, a table operation or
  * a query. `ok` is false when it threw or failed a correctness check.
  */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** What a workload run needs to know; paths are inside the checkout. */
final case class Ctx(seed: Long, dataDir: String, expectedDir: Path, workDir: Path) {
  def work(name: String): Path = Files.createDirectories(workDir.resolve(name))
  def failure(msg: String): Unit = Main.failures += msg
}

/** A workload is a closed loop with one client: each operation starts
  * after the previous one returned.
  */
trait Workload {
  /** Fixture preparation, part of every timed set-up. */
  def prepare(): Unit
  /** Untimed iterations that let JIT, codegen and caches settle. */
  def warmUp(trace: Trace): Unit
  /** One whole unit of measured work. */
  def iteration(trace: Trace): Seq[Op]
  /** Workload-specific per-layer metrics, from traced iterations. */
  def layers(trace: Trace, traced: Seq[Seq[Op]]): Map[String, Double]
}

/** Benchmark process entry point; `perfbench/run.py` builds and starts it.
  *
  * {{{
  *   Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <expectedDir> <workDir> <outFile>
  *   Main record <dataDir> <expectedDir> <workDir>
  * }}}
  */
object Main {
  val Cores = 4
  val SetupReps = 5
  val failures = mutable.ArrayBuffer.empty[String]
  private val started = System.nanoTime()

  /** Progress marker in the run's log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.1fs] $msg")

  def session(): SparkSession = {
    val spark = graft.SessionFactory.build("perfbench", Some(s"local[$Cores]"))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, ctx: Ctx): Workload = name match {
    case "etl_pipeline" => new Etl(spark, ctx)
    case "curation_queries" => new Curation(spark, ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { if (args.headOption.contains("record")) record(args.tail) else run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // non-daemon threads of a stopped session must not keep the JVM up
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(name, seed, seconds, traceFlag, dataDir, expectedDir, workDir, outFile) = args
    val ctx = Ctx(seed.toLong, dataDir, Paths.get(expectedDir), Paths.get(workDir))
    val traced = traceFlag == "1"

    // Set-up: session build, a first job and the workload's fixture,
    // repeated so the median is steady; the last set-up is kept.
    var spark: SparkSession = null
    var w: Workload = null
    val setupS = (0 until SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = Stats.nowNs
      spark = session()
      spark.range(0, 100000, 1, Cores).selectExpr("sum(id)").collect()
      w = workload(name, spark, ctx.copy(workDir = ctx.work(s"setup$i")))
      w.prepare()
      log(s"set-up $i done")
      Stats.msSince(t0) / 1e3
    }
    val trace = new Trace(spark, java.util.UUID.randomUUID().toString)
    w.warmUp(trace)
    log("warm-up done")

    // Measured window: whole iterations until `seconds` have passed. A
    // traced run traces iterations in the order off, on, on, off, so the
    // difference between the two is the tracing overhead and a warm-up
    // trend over the window cancels out of it.
    val iters = mutable.ArrayBuffer.empty[(Boolean, Seq[Op])]
    val t0 = Stats.nowNs
    while (iters.size < (if (traced) 4 else 1) || Stats.msSince(t0) < seconds.toDouble * 1000) {
      val on = traced && Set(1, 2).contains(iters.size % 4)
      iters += on -> (if (on) trace.traced(w.iteration(trace)) else w.iteration(trace))
      log(s"iteration ${iters.size} done (traced: $on)")
    }
    val windowS = Stats.msSince(t0) / 1e3
    val ops = iters.flatMap(_._2).toSeq
    val floors = Floors.measure(spark, ctx.work("floors"))
    log("floors done")

    // every iteration does the same work; its time is summed over the
    // kinds of operation, each at its median over the iterations, so a
    // one-off stall of one operation does not move it
    val perKind = iters.flatMap(_._2.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms).sum })
      .groupBy(_._1).map { case (_, ts) => Stats.median(ts.map(_._2).toSeq) }
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "work_s" -> perKind.sum / 1e3,
      "peak_rss_mb" -> peakRssMb)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tracedIters = iters.filter(_._1).map(_._2).toSeq
        val plainMs = iters.filterNot(_._1).flatMap(_._2).map(_.ms).toSeq
        val tracedMs = tracedIters.flatten.map(_.ms)
        trace.layerMetrics ++ w.layers(trace, tracedIters) ++ Map(
          "trace.ops" -> tracedMs.size.toDouble,
          "trace.overhead_pct" -> 100.0 * (Stats.median(tracedMs) / Stats.median(plainMs) - 1.0))
      }
    val out = Map(
      "workload" -> name,
      "seed" -> ctx.seed,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failures" -> failures.take(20).toSeq,
      "iterations" -> iters.size,
      "window_s" -> windowS,
      "setup_runs_s" -> setupS,
      "op_ms_by_kind" -> ops.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms) },
      "e2e" -> e2e,
      "floors" -> floors,
      "layers" -> (layers ++ floors),
      "self_s" -> (if (traced) trace.selfSeconds else Map.empty[String, Double]))
    Files.writeString(Paths.get(outFile), Stats.jsonValue(out))
    if (traced) {
      val spans = trace.allSpans.map(s => Map("run" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      Files.writeString(Paths.get(outFile + ".spans.json"), Stats.jsonValue(spans))
    }
    spark.stop()
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Writes the recorded results the checks compare against: the
    * oracle SQL the ETL fingerprints come from, and the curation
    * queries' fingerprints.
    */
  private def record(args: Array[String]): Unit = {
    val Array(dataDir, expectedDir, workDir) = args
    val spark = session()
    val ctx = Ctx(0L, dataDir, Paths.get(expectedDir), Paths.get(workDir))
    Files.writeString(Paths.get(workDir, "oracle_sql.json"), Stats.jsonValue(Etl.oracleSql))
    Files.writeString(Paths.get(workDir, "curation.json"), Stats.jsonValue(new Curation(spark, ctx).record()))
    spark.stop()
  }
}
