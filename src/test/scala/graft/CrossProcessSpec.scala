package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

/** Worker `main` for the cross-process commit proof: its OWN
  * SparkSession in its OWN JVM (so nothing in the parent's
  * `TableIO.writeLock` map can serialize it), doing N sequential
  * appends to a shared warehouse. Any commit race it hits must be
  * resolved by the optimistic retry on top of the hard-link manifest
  * create — the cross-process half of the commit protocol.
  */
object CrossProcessAppendWorker {
  def main(args: Array[String]): Unit = {
    val Array(wh, table, idStr, nStr) = args.take(4)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-xproc-worker-$idStr")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      import spark.implicits._
      val io = TableIO(spark, wh)
      val id = idStr.toInt
      (0 until nStr.toInt).foreach { k =>
        io.append(Seq((id.toLong * 1000 + k, s"w$idStr-$k")).toDF("id", "s"), table)
      }
    } finally spark.stop()
    sys.exit(0) // don't let a non-daemon pool thread outlive the work
  }
}

/** Worker `main` for the MOR cross-process race: N sequential
  * `deleteWhereMOR` calls, one id per commit, from this worker's own
  * id range. Any version conflict with the other JVM's commits must be
  * resolved by the optimistic rebase in `commitOnto` — both
  * writers' entries stack, no delete lost, no error surfaced.
  */
object CrossProcessMorWorker {
  def main(args: Array[String]): Unit = {
    val Array(wh, table, loStr, hiStr) = args.take(4)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-xmor-worker-$loStr")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      import org.apache.spark.sql.functions.col
      val io = TableIO(spark, wh)
      (loStr.toInt until hiStr.toInt).foreach { id =>
        val (_, n) = io.deleteWhereMOR(table, col("id") === id.toLong)
        require(n == 1, s"delete of id=$id matched $n rows")
      }
    } finally spark.stop()
    sys.exit(0)
  }
}

/** Worker `main` for the conflict-filter race: N sequential appends,
  * each batch carrying one predicate-MATCHING row (flag=1) and one
  * non-matching row (flag=0) — so a parent DELETE WHERE flag=1 racing
  * these commits must refuse its rebase (the matching newcomer) while
  * never losing the non-matching halves.
  */
object CrossProcessFlagAppendWorker {
  def main(args: Array[String]): Unit = {
    val Array(wh, table, nStr) = args.take(3)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-xflag-worker")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      import spark.implicits._
      val io = TableIO(spark, wh)
      (0 until nStr.toInt).foreach { k =>
        io.append(Seq(
          (9000L + k * 2, 0L, s"keep-w$k"),
          (9001L + k * 2, 1L, s"drop-w$k")).toDF("id", "flag", "s"), table)
      }
    } finally spark.stop()
    sys.exit(0)
  }
}

/** Worker `main` for the retried-attempt write: a `local[2,2]`
  * session (one task retry allowed) appends 1,000 rows in 4 tasks to a
  * table partitioned 5 ways, so every task writes 5 files. The FIRST
  * attempt of task 0 fails after it wrote its files (a task-completion
  * listener throws), first printing the `p=<k>/<name>` of each file it
  * left in the table's staging dir; the retry writes them again under
  * new names.
  */
object RetriedAttemptWorker {
  def main(args: Array[String]): Unit = {
    val Array(wh, table) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-retry-worker")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val io = TableIO(spark, wh)
      val root = io.catalog.pathOf(table)
      val rows = spark.createDataset(spark.sparkContext.parallelize(
        (0L until 1000L).map(i => (i, i % 5, s"r$i")), 4)).mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        System.err.println(s"graft-retry task ${tc.partitionId()} attempt ${tc.attemptNumber()}")
        if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
          tc.addTaskCompletionListener[Unit] { _ =>
            Using.resource(Files.walk(Paths.get(root))) { w =>
              w.iterator().asScala.filter(f => f.toString.contains("/.stage-") &&
                f.getFileName.toString.startsWith("part-00000-"))
                .foreach(f => System.err.println(
                  s"graft-retry failed-attempt file ${f.getParent.getFileName}/${f.getFileName}"))
            }
            throw new IllegalStateException("injected failure after the write")
          }
        it
      }.toDF("id", "p", "s")
      io.append(rows, table, Seq("p"))
    } finally spark.stop()
    sys.exit(0)
  }
}

/** End-to-end proof that the commit protocol is safe ACROSS PROCESSES,
  * not just across threads: the in-JVM per-table write semaphore
  * cannot serialize two JVMs, so simultaneous appends from separate
  * processes exercise the real cross-process path — hard-link
  * exclusive manifest create (exactly one writer claims a version)
  * plus the optimistic re-read-and-retry in `TableIO.write`. The
  * in-process racer variant lives in TableMetaSpec; this spec closes
  * the gap between "safe by design" and "proven".
  */
class CrossProcessSpec extends graft.SparkSpec {
  import spark.implicits._
  import CrossProcessSpec.jvmOpens

  test("two JVMs appending concurrently: every commit lands, versions contiguous, no file lost") {
    val wh = Files.createTempDirectory("graft_xproc_").toString
    val t = "default.race2jvm"
    val appendsPerWorker = 3
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val procs = (1 to 2).map { id =>
      val log = Files.createTempFile(s"graft_xproc_w$id", ".log").toFile
      val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.io.CrossProcessAppendWorker",
        wh, t, id.toString, appendsPerWorker.toString)).asJava
      val p = new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(log).start()
      (id, p, log)
    }
    procs.foreach { case (id, p, log) =>
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"worker $id timed out; log: $log")
      assert(p.exitValue() == 0,
        s"worker $id failed (exit ${p.exitValue()}); tail:\n" +
          Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))
    }

    val io = TableIO(spark, wh)
    val total = 2 * appendsPerWorker
    // both writers' every append committed, versions are contiguous
    assert(io.versions(t) == (1 to total),
      s"expected versions 1..$total, got ${io.versions(t)}")
    // no rows lost or duplicated across the races
    val expect = (for (id <- 1 to 2; k <- 0 until appendsPerWorker)
      yield (id.toLong * 1000 + k, s"w$id-$k")).toSet
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
    // each snapshot strictly extends its predecessor (no append's
    // files were dropped by a racing commit)...
    val manifests = (1 to total).map(v => io.catalog.manifest(t, v).toSet)
    manifests.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later manifest dropped an earlier commit's files")
    }
    // ...and no data file was claimed as new by two snapshots
    val claimed = manifests.zipWithIndex.map { case (m, i) =>
      if (i == 0) m else m.diff(manifests(i - 1))
    }
    assert(claimed.map(_.size).sum == manifests.last.size,
      "a data file was committed as new by more than one snapshot")
  }

  test("two JVMs stacking MOR deletes concurrently: both writers' entries land, no lost update") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_xmor_").toString
    val t = "default.morxjvm"
    val io = TableIO(spark, wh)
    // several data files so racing entries scope overlapping file sets
    io.append((0L until 40L).map(i => (i, s"r$i")).toDF("id", "s").repartition(4), t)

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val perWorker = 8
    val procs = Seq((1, 0), (2, perWorker)).map { case (wid, lo) =>
      val log = Files.createTempFile(s"graft_xmor_w$wid", ".log").toFile
      val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.io.CrossProcessMorWorker",
        wh, t, lo.toString, (lo + perWorker).toString)).asJava
      val p = new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(log).start()
      (wid, p, log)
    }
    procs.foreach { case (wid, p, log) =>
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"MOR worker $wid timed out; log: $log")
      assert(p.exitValue() == 0,
        s"MOR worker $wid failed (exit ${p.exitValue()}); tail:\n" +
          Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))
    }

    // every delete committed: seed + 16 MOR commits, contiguous versions
    val total = 1 + 2 * perWorker
    assert(io.versions(t) == (1 to total),
      s"expected versions 1..$total, got ${io.versions(t)}")
    // the data file list never changed (metadata-only commits throughout)
    assert(io.catalog.manifest(t, total).toSet == io.catalog.manifest(t, 1).toSet,
      "a MOR delete commit changed the data file list")
    // both writers' entries are pending — none lost to a race
    assert(io.catalog.pendingDeletes(t, total).size == 2 * perWorker,
      s"expected ${2 * perWorker} pending entries, got " +
        s"${io.catalog.pendingDeletes(t, total).size}")
    // the merged read reflects every delete from both JVMs
    val expect = (2L * perWorker until 40L).map(i => (i, s"r$i")).toSet
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
    // and materialization agrees
    io.applyDeletes(t)
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
    assert(io.catalog.pendingDeletes(t, io.catalog.currentVersion(t).get).isEmpty)
  }

  test("MOR delete racing a second JVM's appends: the rebase keeps the racer's rows") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_xmra_").toString
    val t = "default.mraxjvm"
    val io = TableIO(spark, wh)
    io.append((0L until 20L).map(i => (i, s"seed$i")).toDF("id", "s").repartition(2), t)

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_xmra_w", ".log").toFile
    val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessAppendWorker",
      wh, t, "5", "6")).asJava
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(log).start()
    // MOR deletes from THIS JVM while the worker appends from its own:
    // every commit from both sides must land (the rebase recommits on
    // the racer's head, keeping its appended files)
    (0 until 6).foreach { k =>
      val (_, n) = io.deleteWhereMOR(t, col("id") === k.toLong)
      assert(n == 1, s"delete of id=$k matched $n rows")
      Thread.sleep(100)
    }
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
    assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
      Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))

    // all 13 commits landed (seed + 6 worker appends + 6 MOR deletes)
    assert(io.versions(t) == (1 to 13), s"got ${io.versions(t)}")
    // no worker row lost to a rebased delete commit, deletes all applied
    val expect = (6L until 20L).map(i => (i, s"seed$i")).toSet ++
      (0 until 6).map(k => (5000L + k, s"w5-$k")).toSet
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
    io.applyDeletes(t)
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
  }

  test("WAP publish racing a second JVM's appends: staged rows land exactly once, nothing lost") {
    val wh = Files.createTempDirectory("graft_xwap_").toString
    val t = "default.wapxjvm"
    val io = TableIO(spark, wh)
    io.append(Seq((1L, "seed-0")).toDF("id", "s"), t)
    val sid = io.appendStaged(Seq((500L, "staged-0"), (501L, "staged-1")).toDF("id", "s"), t)

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_xwap_w", ".log").toFile
    val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessAppendWorker",
      wh, t, "3", "6")).asJava
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(log).start()
    // publish mid-flight: the optimistic loop must retry over whatever
    // versions the worker lands between the base read and the commit
    Thread.sleep(300)
    val published = io.publishStaged(t, sid)
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
    assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
      Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))

    // every commit landed: seed + 6 worker appends + the publish
    val vs = io.versions(t)
    assert(vs == (1 to 8), s"expected versions 1..8, got $vs")
    assert(vs.contains(published))
    // the staged rows are in EXACTLY once, alongside every worker row
    val rows = io.read(t).as[(Long, String)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate ids after the race")
    val expect = Set(1L, 500L, 501L) ++ (0 until 6).map(k => 3000L + k)
    assert(rows.map(_._1).toSet == expect, s"row set wrong: ${rows.toSeq.sortBy(_._1)}")
    // the staged manifest was consumed; every version still reads
    assert(io.catalog.listStaged(t).isEmpty)
    vs.foreach(v => io.readVersion(t, v).count())
    // later manifests strictly extend earlier ones (nothing dropped)
    val manifests = vs.map(v => io.catalog.manifest(t, v).toSet)
    manifests.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later manifest dropped an earlier commit's files")
    }
  }

  test("key-scoped DML racing a second JVM's appends: every DML rebases and lands, no lost update") {
    val wh = Files.createTempDirectory("graft_xdmlr_").toString
    val t = "default.dmlrebase"
    val io = graft.io.TableIO(spark, wh)
    io.append((0L until 10L).map(i => (i, s"seed$i")).toDF("id", "s").repartition(2), t)
    spark.conf.set("spark.sql.catalog.gxr", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gxr.warehouse", wh)
    try {
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val log = Files.createTempFile("graft_xdmlr_w", ".log").toFile
      // worker appends ids 8000..8007 — disjoint from every DML key, so
      // parquet stats PROVE the racer's new files can't match and the
      // serializable conflict-detection filter lets every DML rebase
      val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessAppendWorker",
        wh, t, "8", "8")).asJava
      val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(log).start()
      (0 until 8).foreach { k =>
        // translatable predicate (id = k): pushed filters drive both the
        // file-scoped rewrite AND the rebase's conflict filter
        spark.sql(s"UPDATE gxr.default.dmlrebase SET s = concat(s, '!') WHERE id = $k")
        Thread.sleep(100)
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
      assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
        Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))

      // EVERY commit landed: seed + 8 worker appends + 8 DML rewrites
      val vs = io.versions(t)
      assert(vs == (1 to 17), s"expected versions 1..17, got $vs")
      // no worker row lost to a rebased rewrite, every update applied
      val expect = (0L until 8L).map(i => (i, s"seed$i!")).toSet ++
        Set(8L -> "seed8", 9L -> "seed9") ++
        (0 until 8).map(k => (8000L + k, s"w8-$k")).toSet
      assert(io.read(t).as[(Long, String)].collect().toSet == expect)
    } finally {
      spark.conf.unset("spark.sql.catalog.gxr")
      spark.conf.unset("spark.sql.catalog.gxr.warehouse")
    }
  }

  test("compaction racing a second JVM's appends: every append survives, every compact lands") {
    val wh = Files.createTempDirectory("graft_xcmp_").toString
    val t = "default.cmpxjvm"
    val io = TableIO(spark, wh)
    io.append((0L until 20L).map(i => (i, s"seed$i")).toDF("id", "s").repartition(4), t)

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_xcmp_w", ".log").toFile
    val appends = 6
    val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessAppendWorker",
      wh, t, "7", appends.toString)).asJava
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(log).start()
    // full compactions from THIS JVM while the worker appends from its
    // own: each compaction is PINNED at the version it read, so a
    // worker append landing in between surfaces as a version conflict
    // and the compaction REBASES (the appended file rides into the
    // compacted manifest) — the race that a blind overwrite would have
    // resolved by silently dropping the append
    val compactions = 5
    (0 until compactions).foreach { _ => io.compact(t); Thread.sleep(120) }
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
    assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
      Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))

    // every commit landed: seed + 6 worker appends + 5 compactions
    val total = 1 + appends + compactions
    assert(io.versions(t) == (1 to total), s"expected 1..$total, got ${io.versions(t)}")
    // NO append lost to any compaction rebase
    val expect = (0L until 20L).map(i => (i, s"seed$i")).toSet ++
      (0 until appends).map(k => (7000L + k, s"w7-$k")).toSet
    assert(io.read(t).as[(Long, String)].collect().toSet == expect)
  }

  test("row-level DML racing a second JVM's appends: fail-fast or consistent, never corrupt") {
    val wh = Files.createTempDirectory("graft_xdml_").toString
    val t = "default.dmlxjvm"
    val io = graft.io.TableIO(spark, wh)
    io.append(Seq((1L, "seed-0")).toDF("id", "s"), t)
    spark.conf.set("spark.sql.catalog.gxp", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gxp.warehouse", wh)
    try {
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val log = Files.createTempFile("graft_xdml_w", ".log").toFile
      val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessAppendWorker",
        wh, t, "7", "6")).asJava
      val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(log).start()
      // fire DMLs from THIS JVM while the worker appends from its own:
      // each either commits atomically at its base version or loses the
      // race loudly — count both outcomes, never accept corruption
      var conflicts = 0
      var applied = 0
      (1 to 10).foreach { k =>
        try {
          spark.sql(s"UPDATE gxp.default.dmlxjvm SET s = concat(s, '!') WHERE id % 17 = $k")
          applied += 1
        } catch {
          case e: Throwable =>
            def chain(t: Throwable): Seq[Throwable] =
              if (t == null) Nil else t +: chain(t.getCause)
            assert(chain(e).exists(_.isInstanceOf[graft.io.ConcurrentCommitException]),
              s"DML $k failed with something other than a commit conflict: $e")
            conflicts += 1
        }
        Thread.sleep(150)
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
      assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
        Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))

      // corruption invariants, independent of who won which race:
      val vs = io.versions(t)
      assert(vs == (vs.head to vs.last), s"version history has holes: $vs")
      // every surviving manifest's files exist and every version reads
      vs.foreach { v =>
        io.catalog.manifest(t, v).foreach(f =>
          assert(Files.exists(Paths.get(f)), s"v$v references missing file $f"))
        io.readVersion(t, v).count()
      }
      val rows = io.read(t).as[(Long, String)].collect()
      assert(rows.map(_._1).distinct.length == rows.length, "duplicate ids after the race")
      // all 6 worker appends + the seed survived every DML rewrite
      assert(rows.length == 7, s"expected 7 rows, got ${rows.length}: ${rows.toSeq.sortBy(_._1)}")
      // and the write mutex is intact for later writers
      io.append(Seq((99L, "post")).toDF("id", "s"), t)
      assert(io.read(t).count() == 8)
      assert(conflicts + applied == 10)
    } finally {
      spark.conf.unset("spark.sql.catalog.gxp")
      spark.conf.unset("spark.sql.catalog.gxp.warehouse")
    }
  }

  test("predicate DELETE racing a second JVM's MATCHING appends: conflict filter refuses, retry converges") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_xcf_").toString
    val t = "default.cfxjvm"
    val io = graft.io.TableIO(spark, wh)
    // seed: matching (flag=1) and non-matching rows
    io.append(Seq((1L, 0L, "keep-1"), (2L, 1L, "drop-2"), (3L, 0L, "keep-3"))
      .toDF("id", "flag", "s"), t)

    // the worker appends id batches from its own JVM; odd worker ids
    // land as flag=1 below via the parity convention in this fixture
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_xcf_w", ".log").toFile
    val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.io.CrossProcessFlagAppendWorker",
      wh, t, "5")).asJava
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(log).start()

    // the caller contract under the serializable conflict filter: a
    // DELETE that loses to a racer's MATCHING append refuses loudly
    // (rebasing would let those rows silently survive) and the caller
    // re-runs against the new snapshot. Loop until the worker is done
    // and one final DELETE wins cleanly.
    var refusals = 0
    def chain(e: Throwable): Seq[Throwable] = if (e == null) Nil else e +: chain(e.getCause)
    def deleteOnce(): Boolean =
      try { io.deleteWhere(t, col("flag") === 1L); true }
      catch {
        case e: Throwable =>
          assert(chain(e).exists(_.isInstanceOf[graft.io.ConcurrentCommitException]),
            s"DELETE failed with something other than a commit conflict: $e")
          refusals += 1
          false
      }
    while (proc.isAlive) { deleteOnce(); Thread.sleep(100) }
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; $log")
    assert(proc.exitValue() == 0, s"worker failed; tail:\n" +
      Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))
    // worker finished: the final retry must succeed and reach the fixpoint
    var settled = false
    var attempts = 0
    while (!settled && attempts < 5) { settled = deleteOnce(); attempts += 1 }
    assert(settled, "the post-race DELETE must converge")

    // fixpoint invariants: zero matching rows survive; every
    // NON-matching row — seeded or appended mid-race — survives
    val rows = io.read(t).as[(Long, Long, String)].collect()
    assert(rows.forall(_._2 == 0L), s"flag=1 rows dodged the DELETE: ${rows.mkString(",")}")
    val keepers = rows.map(_._1).toSet
    assert(keepers.contains(1L) && keepers.contains(3L), "seeded non-matching rows lost")
    // the worker wrote 5 batches of (flag=0, flag=1) pairs; all its
    // flag=0 rows must have survived every refused/rebased DELETE
    assert((0 until 5).forall(k => keepers.contains(9000L + k * 2)),
      s"a racer's non-matching append was lost: $keepers")
    // history is sound: contiguous versions, every snapshot readable
    val vs = io.versions(t)
    assert(vs == (vs.head to vs.last), s"version history has holes: $vs")
    vs.foreach(v => io.readVersion(t, v).count())
  }

  test("multi-file write: a failed task attempt's files never reach the table, the retry's land once") {
    val wh = Files.createTempDirectory("graft_retry_").toString
    val t = "default.retried"
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_retry", ".log").toFile
    val cmd = (Seq(javaBin) ++ jvmOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.io.RetriedAttemptWorker",
      wh, t)).asJava
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).redirectOutput(log).start()
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; log: $log")
    val lines = Files.readAllLines(log.toPath).asScala
    val tail = lines.takeRight(30).mkString("\n")
    assert(p.exitValue() == 0, s"retried write failed (exit ${p.exitValue()}); tail:\n$tail")
    assert(lines.exists(_.contains("graft-retry task 0 attempt 1")),
      s"the write never retried; tail:\n$tail")
    val failed = lines.collect { case l if l.contains("graft-retry failed-attempt file ") =>
      l.substring(l.indexOf("file ") + 5).trim
    }.toSet
    assert(failed.size == 5, s"the failed attempt should have written 5 files: $failed")

    val io = TableIO(spark, wh)
    // rows land exactly once
    val ids = io.read(t).select("id").as[Long].collect().sorted
    val exactlyOnce = ids.toSeq == (0L until 1000L)
    assert(exactlyOnce, s"rows lost or duplicated: ${ids.length} rows, ${ids.distinct.length} distinct")
    // the manifest names the 4 x 5 accepted files and none of the failed attempt's
    val manifest = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    assert(manifest.size == 20, manifest)
    def partFile(f: String) = { val q = Paths.get(f); s"${q.getParent.getFileName}/${q.getFileName}" }
    assert(!manifest.exists(f => failed(partFile(f))),
      s"the manifest names a failed attempt's file: $manifest")
    // every parquet file under data/ is in the manifest, and no staging dir remains
    assert(io.catalog.listDataFiles(t).toSet == manifest.map(f =>
      Paths.get(f).toAbsolutePath.normalize.toString).toSet)
    val root = Paths.get(io.catalog.pathOf(t))
    val stages = Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".stage-")).toSeq
    assert(stages.isEmpty, s"staging dirs left behind: $stages")
  }
}

object CrossProcessSpec {
  /** The running JVM's `--add-opens`/`--add-exports` flags, for a
    * worker JVM it starts.
    */
  def jvmOpens: Seq[String] = {
    // reproduce the parent JVM's --add-opens flags (Spark 4 on JDK 17
    // needs them); they arrive either as "--add-opens=x" or as the
    // two-token "--add-opens x" form
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--add-opens") || a.startsWith("--add-exports")) {
        out += a
        if ((a == "--add-opens" || a == "--add-exports") && i + 1 < args.length) {
          out += args(i + 1); i += 1
        }
      }
      i += 1
    }
    out.result()
  }
}
