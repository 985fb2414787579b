package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Median-of-N benchmark. Single-run timings at sf0.1/local[32] swing
    * ±50% per query (GC, codegen compilation, page cache), so each query
    * runs `SPARK_GRAFT_RUNS` times (default 3) and the headline reports
    * the per-query median.
    *
    * Queries run in SORTED-NAME order (q01..qNN). `SparkEntry.queries`
    * is a hash map, so iterating it directly would time queries in an
    * arbitrary order that changes whenever an entry is added — any
    * cross-query JVM pollution (heap growth, shuffle-file accumulation)
    * would then land on a different victim each round. Sorted order
    * makes run-to-run and round-to-round numbers comparable.
    *
    * Box-health canaries (r11/r12 lesson: the driver box is shared and
    * bursty — identical code swung 20x both directions):
    *  - a full-size CPU canary + an IO canary at pass start, and a
    *    CPU canary again at pass end, all in the headline — the
    *    round-over-round comparable numbers;
    *  - a SHORT CPU canary before EVERY timed run (~17 ms — the box
    *    probe must not dominate the pass), persisted per query in the
    *    runs file. r12's burst landed mid-pass on 3 queries while the
    *    pass-start canaries read idle, so the headline looked clean;
    *    per-run canaries make each timing individually attributable.
    *  - queries whose runs were majority-contended (median per-run
    *    canary > 2x the pass-best canary) are named in the headline's
    *    "contended" list: medians are either clean or flagged.
    *  - a SHORT FSYNC probe before every timed run (8 create+fsync
    *    ops, ~8 ms quiet) with its own "contended_io" headline list —
    *    the CPU probe is blind to durable-write contention (r14: a 4x
    *    fsync-slow window inflated write/commit-heavy queries 2.5-4x
    *    in stable-looking medians while every CPU canary read idle).
    *
    * Output contract: the harness keeps only the tail (~1.9 KB) of this
    * process's stdout, so the headline JSON must be (a) the LAST line
    * printed and (b) short enough to survive tail-truncation — r12's
    * full-name queries map alone overflowed the budget and cut the
    * total. The headline therefore keys queries by their qNN prefix
    * (~1.4 KB for 78 queries) and puts total/canaries at the END of the
    * line (tails truncate the front); full-name medians, mins, raw
    * per-run arrays and per-run canaries go on earlier lines and into
    * `SPARK_GRAFT_RUNS_FILE` (committed by the builder).
    *
    * Failures are tracked out-of-band: a run that throws contributes no
    * timing; a query whose every run fails is excluded from
    * queries/total and named in the "failed" list instead of skewing the
    * numbers with a sentinel.
    *
    * Layer split: a [[LayerRecorder]] records every timed run into
    * the runs file's `queries_layers` line (one record per successful
    * run, in `queries_runs` order); stdout carries none of it. The
    * session is `SessionFactory.build`'s (`SPARK_GRAFT_CPUS`, default 32).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val spark = SessionFactory.build("graft-bench")
    warmUp(spark)
    def cpuCanary(iters: Long): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0L
      while (i < iters) { acc ^= i * 0x9e3779b97f4a7c15L; i += 1 }
      if (acc == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val FullCanaryIters = 200000000L // ~0.13 s idle — r10..r12 comparable
    val RunCanaryIters = 25000000L // ~17 ms — cheap enough for every run
    def ioCanary(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-canary").toFile.getAbsolutePath
      val t0 = System.nanoTime()
      spark.range(2000000).selectExpr("id", "id * 7 as v", "cast(id % 97 as string) as s")
        .repartition(8).write.mode("overwrite").parquet(s"$dir/c.parquet")
      spark.read.parquet(s"$dir/c.parquet").selectExpr("sum(v)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      dt
    }
    // Sync-latency canary: p50 of small create+fsync ops. The CPU and
    // buffered-IO canaries are blind to durable-write contention, but
    // the streaming rows are fsync-BOUND (per-micro-batch WAL commits +
    // state-store delta syncs) — measured as a stable 3-5x inflation of
    // ONLY the streaming queries while every batch query and both other
    // canaries read idle. ~1 ms p50 is a quiet local disk; multi-ms
    // means shared-storage sync contention and streaming medians should
    // be read accordingly.
    def fsyncCanary(ops: Int = 30): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-fsync").toFile
      val lat = (0 until ops).map { i =>
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(
          new java.io.File(dir, s"f$i").toPath,
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](4096)))
        ch.force(true); ch.close()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      lat(lat.size / 2)
    }
    cpuCanary(RunCanaryIters); cpuCanary(RunCanaryIters) // JIT-warm the loop
    val canaryCpu = cpuCanary(FullCanaryIters)
    val canaryIo = ioCanary()
    val canaryFsync = fsyncCanary()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // Each element: (name, per-run (cpu canary, fsync canary, timing)
    // triples). The per-run FSYNC probe (8 ops, ~8 ms quiet) exists
    // because the r14 driver pass proved the CPU probe blind to
    // durable-write contention: write/commit-heavy queries inflated
    // 2.5-4x in stable-looking medians while every CPU canary read
    // idle — only the pass-boundary fsync canaries (4x slower) caught
    // it, too coarse to attribute per query.
    val layers = new LayerRecorder(spark)
    val sampled = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> Seq.fill(runs)((cpuCanary(RunCanaryIters), fsyncCanary(ops = 8),
          timeOnce(spark, sfDir, fn, layers.record(name)(_))))
      }
    val canaryCpuEnd = cpuCanary(FullCanaryIters)
    val canaryFsyncEnd = fsyncCanary()
    val okLayers = sampled.flatMap { case (_, rs) => rs.map(_._3.isDefined) }
      .zip(layers.finish()).collect { case (true, l) => l }
    val timings = sampled.map { case (name, rs) =>
      name -> rs.collect { case (_, _, Some(t)) => r4(t._1) }
    }
    val canaries = sampled.map { case (name, rs) => name -> rs.map(r => r4(r._1)) }
    val fsyncs = sampled.map { case (name, rs) => name -> rs.map(r => r4(r._2)) }
    // files/bytes are deterministic per query; keep the max across runs
    val writes = sampled
      .map { case (name, rs) =>
        val oks = rs.flatMap(_._3)
        name -> (if (oks.isEmpty) (0L, 0L) else (oks.map(_._2).max, oks.map(_._3).max))
      }
      .filter { case (_, (f, _)) => f > 0L }
    val ok = timings.filter(_._2.nonEmpty)
    val failed = timings.collect { case (k, v) if v.isEmpty => k }.sorted
    val med = ok.map { case (k, v) => k -> r4(median(v)) }
    val mins = ok.map { case (k, v) => k -> r4(v.min) }
    // A run is box-suspect when its canary is >2x the pass-best; a
    // query's median is flagged when at least half its runs were
    // suspect (median of canaries > 2x best).
    // guard the empty case (SPARK_GRAFT_ONLY matching nothing): the
    // bench must still emit a parseable headline, not die on empty.min
    val allCanaries = canaries.flatMap(_._2)
    val canaryBase = if (allCanaries.isEmpty) 1.0 else allCanaries.min
    val contended = canaries.collect {
      case (k, cs) if median(cs) > 2.0 * canaryBase => k
    }.sorted
    // IO-contended: per-run fsync medians against the PASS MEDIAN (not
    // the pass best — the bench's own writes keep ambient sync latency
    // 2-3x above idle, measured r15: in-pass p50 0.74 ms / p90 1.45 ms
    // vs 0.43 ms at the idle pass boundary, so a min-based 2x rule
    // flags half the board). This list attributes LOCALIZED bursts —
    // a query whose probes sit 3x above what the rest of the same pass
    // saw; whole-pass contention (the r14 incident: every probe 4x) is
    // the pass-boundary canaries' job, which caught exactly that.
    val allFsyncs = fsyncs.flatMap(_._2)
    val fsyncBase = if (allFsyncs.isEmpty) 1.0 else median(allFsyncs)
    val contendedIo = fsyncs.collect {
      case (k, fs) if median(fs) > math.max(3.0 * fsyncBase, 2.0) => k
    }.sorted
    // History-aware flag (r16 verdict gap): contention arriving WITHIN
    // a run — between canary reads — is invisible to both probes, and
    // r16 published q124 at 17.7 s (idle-box median 2.4 s) unannotated.
    // Every prior round's per-query medians are on disk in
    // BENCH_r*.json; a query whose pass median exceeds 3x its
    // all-rounds best (and by more than 1 s absolute, keeping
    // sub-second jitter out) is a box-artifact suspect regardless of
    // what the canaries saw. Min-of-history is robust to past
    // contention: inflation only ever raises a round's number.
    val histMin: Map[String, Double] = {
      val acc = scala.collection.mutable.Map.empty[String, Double]
      try {
        // the driver stores this bench's stdout tail as an ESCAPED
        // JSON string ("\"q124\":17.675"), so tolerate a backslash
        // before each quote
        val pat = java.util.regex.Pattern.compile("\\\\?\"(q\\d+)\\\\?\":([0-9][0-9.]*)")
        val dir = java.nio.file.Paths.get(".")
        val it = java.nio.file.Files.list(dir)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(it.iterator()).asScala
          .filter(_.getFileName.toString.matches("BENCH_r\\d+\\.json"))
          .foreach { f =>
            val m = pat.matcher(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
            while (m.find()) {
              val v = m.group(2).toDouble
              if (v > 0) acc.updateWith(m.group(1))(o => Some(o.fold(v)(math.min(_, v))))
            }
          }
        finally it.close()
      } catch { case scala.util.control.NonFatal(_) => () } // no history = no flag
      acc.toMap
    }
    val contendedHist = med.collect {
      case (k, v) if histMin.get(k.split('_').head)
        .exists(h => v > 3.0 * h && v - h > 1.0) => k
    }.sorted
    // End-of-pass rerun of history-flagged rows (r21 verdict item 8):
    // a row whose median exceeded 2x its all-rounds best while the
    // canaries read clean gets ONE extra measurement here, after the
    // whole pass, when any mid-pass burst has had time to clear. The
    // rerun is OUTSIDE the timed region and changes NOTHING in the
    // headline (medians, total, flags all stay as measured) — it is
    // recorded in the runs file so the adjudication between "code
    // regression" and "box burst" ships with the artifact instead of
    // needing a manual follow-up pass.
    val rerunCandidates = med.collect {
      case (k, v) if histMin.get(k.split('_').head)
        .exists(h => v > 2.0 * h && v - h > 0.5) => k
    }.sorted
    val reruns = rerunCandidates.flatMap(k => SparkEntry.queries.get(k)
      .flatMap(fn => timeOnce(spark, sfDir, fn).map(t => k -> r4(t._1))))
    // Floor flag (r17 verdict gap): contended_hist compares MEDIANS at
    // 3x and let a 2.6x FLOOR shift (q119 r17: best-of-3 3.52 s vs
    // all-rounds 1.24 s) pass silently. A query whose BEST run this
    // pass exceeds 2x its all-rounds best (and by > 0.5 s absolute —
    // sub-second jitter stays out) has a moved floor: code regression
    // or whole-pass ambient load, named either way so it gets
    // adjudicated instead of shipped silently.
    val floorHist = mins.collect {
      case (k, v) if histMin.get(k.split('_').head)
        .exists(h => v > 2.0 * h && v - h > 0.5) => k
    }.sorted
    def fmt(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmtRuns(m: Iterable[(String, Seq[Double])]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }.mkString("{", ",", "}")
    def fmtList(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def short(name: String): String = name.split('_').head
    val total = r4(med.map(_._2).sum)
    val runsLine = s"""{"metric":"queries_runs","queries_runs":${fmtRuns(ok)},"canary_runs":${fmtRuns(canaries)},"fsync_runs":${fmtRuns(fsyncs)},"order":"sorted","runs":$runs,"flagged_reruns":${fmt(reruns)},"canary_cpu_sec":${r4(canaryCpu)},"canary_io_sec":${r4(canaryIo)},"canary_cpu_end_sec":${r4(canaryCpuEnd)},"canary_fsync_ms":${r4(canaryFsync)},"canary_fsync_end_ms":${r4(canaryFsyncEnd)}}"""
    val writesLine = writes
      .map { case (k, (f, b)) => s"\"" + k + "\":{\"files\":" + f + ",\"bytes\":" + b + "}" }
      .mkString("""{"metric":"queries_writes","queries_writes":{""", ",", "}}")
    val medLine = s"""{"metric":"queries_median","queries_median":${fmt(med)},"runs":$runs}"""
    val minLine = s"""{"metric":"queries_min","queries_min":${fmt(mins)},"failed":${fmtList(failed)},"runs":$runs}"""
    val layersLine = ok.map { case (k, _) =>
      jsonString(k) + ":" + okLayers.filter(_.label == k).map(_.json).mkString("[", ",", "]")
    }.mkString("""{"metric":"queries_layers","queries_layers":{""", ",", "}}")
    // The harness keeps only the tail of stdout, so the per-run arrays
    // the r8/r11 verdicts asked for never survived as an artifact.
    // Persist them to a file (committed by the builder) as well as
    // printing them.
    val runsFile = sys.env.getOrElse("SPARK_GRAFT_RUNS_FILE", "BENCH_RUNS.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(runsFile),
        s"$runsLine\n$writesLine\n$medLine\n$minLine\n$layersLine\n".getBytes("UTF-8"))
    } catch {
      // bench output must not die on an unwritable cwd, but a missing
      // artifact has to be explained, not silent (r12 advice)
      case e: Throwable => System.err.println(s"[bench] runs file write failed: $e")
    }
    // auxiliary lines first (may be tail-truncated; that's fine)
    println(runsLine)
    println(writesLine)
    println(medLine)
    println(minLine)
    // Headline LAST: qNN-prefix keys keep it inside the tail budget,
    // and total/canaries sit at line END so front-truncation can't eat
    // them (full names: queries_median line + the runs file).
    val headline = s"""{"metric":"total","queries":${fmt(med.map { case (k, v) => short(k) -> v })},"contended":${fmtList(contended.map(short))},"contended_io":${fmtList(contendedIo.map(short))},"contended_hist":${fmtList(contendedHist.map(short))},"floor_hist":${fmtList(floorHist.map(short))},"runs":$runs,"sf":"$sfDir","canary_cpu_sec":${r4(canaryCpu)},"canary_io_sec":${r4(canaryIo)},"canary_cpu_end_sec":${r4(canaryCpuEnd)},"canary_fsync_ms":${r4(canaryFsync)},"canary_fsync_end_ms":${r4(canaryFsyncEnd)},"unit":"sec","value":$total}"""
    // The headline ALSO lands in a file (r21 verdict item 3/7: the
    // round-20 driver capture was front-truncated mid-JSON and the
    // whole round's per-query comparison went dark — a clipped stdout
    // tail must never again erase the machine-readable result).
    // Print stays byte-identical.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_LAST_FILE", "BENCH_LAST.json")),
      (headline + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] last file write failed: $e") }
    println(headline)
    spark.stop()
  }

  /** Warms the JVM and scheduler so the first timed query doesn't
    * absorb first-job overhead (codegen compiler init, scheduler
    * spin-up).
    */
  private[graft] def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** One cold-cache timed run: `count()` of `fn`'s frame, as (seconds,
    * files written, bytes written), or None if it throws. `around`
    * wraps exactly the timed count (the layer recorder's window).
    *
    * The per-run write audit (files/bytes staged into tables) rides
    * along with the timing — write-heavy queries (q52's partitioned
    * append) are storage-sensitive, so their write volume goes into
    * the artifact and a slow disk's inflation stays attributable.
    */
  private[graft] def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame,
      around: (=> Long) => Long = n => n): Option[(Double, Long, Long)] = {
    val f0 = graft.io.TableIO.filesWritten.get()
    val b0 = graft.io.TableIO.bytesWritten.get()
    val t0 = System.nanoTime()
    val res =
      try {
        around(fn(spark, sfDir).count())
        Some(((System.nanoTime() - t0) / 1e9,
          graft.io.TableIO.filesWritten.get() - f0,
          graft.io.TableIO.bytesWritten.get() - b0))
      }
      catch { case e: Throwable => System.err.println(s"[bench] run failed: $e"); None }
    // Cold-cache policy: every run starts with an empty cache.
    // Operators that persist intermediates (q12/q13/q40) would
    // otherwise accumulate a fresh MEMORY_AND_DISK cache per run in
    // this shared JVM and skew every later query's measurement.
    // BLOCKING: the default async unpersist lets freed blocks linger
    // while the NEXT timed run is already allocating — measured as
    // one-fast-then-slow repeat runs in r8. Catalog.clearCache() has
    // no blocking flag, so drop to the RDD layer.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    res
  }

  /** Median; NaN for an empty sample. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private[graft] def r4(v: Double): Double = math.rint(v * 1e4) / 1e4

  /** JSON string literal through the shared metadata codec: every
    * control char (<0x20) is escaped — a tab or CR in oracle SQL or a
    * stage name would otherwise make a reader's json.load fail.
    */
  private[graft] def jsonString(s: String): String = graft.io.Codec.mapper.writeValueAsString(s)
}
