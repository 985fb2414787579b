package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.io.{GraftCatalog, Ref, TableIO}

/** `file://` that fails the first task attempt creating a file under a
  * changelog stream's change stage, after that attempt wrote its
  * files: a task-completion listener throws once the attempt's work is
  * done. Fires once per JVM; every stage file created is logged with
  * its task attempt.
  */
class FailFirstStageAttemptFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val tc = TaskContext.get()
    if (tc != null && f.toString.contains("/graft-cdf-stage/")) {
      System.err.println(s"graft-cdf-retry stage file by task ${tc.partitionId()} attempt ${tc.attemptNumber()}")
      if (tc.attemptNumber() == 0 && FailFirstStageAttemptFs.armed.compareAndSet(true, false))
        tc.addTaskCompletionListener[Unit](_ =>
          throw new IllegalStateException("injected failure after the change-stage write"))
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailFirstStageAttemptFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
}

/** Worker `main` for the retried change-stage write: a `local[2,2]`
  * session (one task retry allowed) whose `file://` is
  * [[FailFirstStageAttemptFs]] drains a changelog stream over an
  * append (v1) and a copy-on-write UPDATE (v2, a staged diff). Every
  * micro-batch is collected twice, so the scan is planned twice; each
  * planning's rows are printed as one line.
  */
object ChangeStageRetryWorker {
  def main(args: Array[String]): Unit = {
    val Array(wh, ckpt) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-cdf-retry-worker")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.hadoop.fs.file.impl", classOf[FailFirstStageAttemptFs].getName)
      .config("spark.sql.catalog.gcdf", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gcdf.warehouse", wh)
      .getOrCreate()
    try {
      import spark.implicits._
      val io = TableIO(spark, wh)
      val t = "default.src"
      io.append((1L to 200L).map(i => (i, s"r$i")).toDF("id", "s").repartition(4), t) // v1
      io.updateWhere(t, col("id") <= 100L, Map("s" -> org.apache.spark.sql.functions.lit("u"))) // v2
      spark.readStream.table(s"gcdf.$t.changelog").writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          (1 to 2).foreach { k =>
            val rows = batch.select("_change_type", "_change_version", "id", "s")
              .as[(String, Int, Long, String)].collect().sorted
            System.err.println(s"graft-cdf-retry batch $id planning $k: ${rows.mkString(";")}")
          }
        }
        .start()
        .awaitTermination()
    } finally spark.stop()
    sys.exit(0)
  }
}

/** The `<table>.changelog` metadata table: batch CDC reads through SQL
  * and the streaming change-data-feed source — INSERT/DELETE rows per
  * micro-batch with the checkpointed version offset, composing the
  * q131 micro-batch machinery with the readChangelog file-diff core.
  */
class ChangelogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def withCat(cat: String)(body: String => Unit): Unit = {
    val wh = Files.createTempDirectory("graft_cdf_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(wh) finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private def drain(tableRef: String, checkpoint: String,
                    opts: Map[String, String] = Map.empty): Seq[(String, Int, Long, String)] = {
    val buf = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
    val reader = opts.foldLeft(spark.readStream) { case (r, (k, v)) => r.option(k, v) }
    val q = reader.table(tableRef).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= batch.select("_change_type", "_change_version", "id", "s")
            .as[(String, Int, Long, String)].collect()
        }
        ()
      }
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  private def msgChain(x: Throwable): String = {
    def walk(c: Throwable): Seq[String] =
      if (c == null) Seq.empty else Option(c.getMessage).toSeq ++ walk(c.getCause)
    walk(x).mkString(" | ")
  }

  test("streaming CDF serves INSERT/DELETE per micro-batch across appends, COW DML, and compaction") {
    withCat("gcdf") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.src"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t) // v1
      io.append(Seq((3L, "c")).toDF("id", "s").coalesce(1), t) // v2
      val ckpt = Files.createTempDirectory("graft_cdfc_").toString

      // full-history first drain: all three rows as INSERTs at their versions
      assert(drain(s"gcdf.$t.changelog", ckpt).toSet === Set(
        ("INSERT", 1, 1L, "a"), ("INSERT", 1, 2L, "b"), ("INSERT", 2, 3L, "c")))
      assert(drain(s"gcdf.$t.changelog", ckpt).isEmpty)

      // a COW DELETE: the rewrite's net diff is one DELETE row (carried
      // rows cancel via exceptAll)
      io.deleteWhere(t, col("id") === 2L) // v3
      assert(drain(s"gcdf.$t.changelog", ckpt).toSet === Set(("DELETE", 3, 2L, "b")))

      // a COW UPDATE nets DELETE(old) + INSERT(new) at the same version
      io.updateWhere(t, col("id") === 3L, Map("s" -> org.apache.spark.sql.functions.lit("C"))) // v4
      assert(drain(s"gcdf.$t.changelog", ckpt).toSet === Set(
        ("DELETE", 4, 3L, "c"), ("INSERT", 4, 3L, "C")))

      // a pure compaction nets to ZERO rows — CDC rides through
      // maintenance with no option needed
      io.compact(t) // v5
      assert(drain(s"gcdf.$t.changelog", ckpt).isEmpty)

      // and the next append still streams
      io.append(Seq((4L, "d")).toDF("id", "s").coalesce(1), t) // v6
      assert(drain(s"gcdf.$t.changelog", ckpt).toSet === Set(("INSERT", 6, 4L, "d")))

      // streaming replay from scratch equals the batch changelog replay
      val ckpt2 = Files.createTempDirectory("graft_cdfc2_").toString
      val streamed = drain(s"gcdf.$t.changelog", ckpt2).toSet
      val batch = io.readChangelog(t)
        .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
        .as[(String, Int, Long, String)].collect().toSet
      assert(streamed === batch)
    }
  }

  test("batch .changelog through SQL honors fromVersion/toVersion options") {
    withCat("gcdfb") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.bsrc"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t) // v1
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t) // v2
      io.deleteWhere(t, col("id") === 1L) // v3
      val all = spark.sql(s"SELECT _change_type, _change_version, id, s FROM gcdfb.$t.changelog")
        .as[(String, Int, Long, String)].collect().toSet
      assert(all === Set(("INSERT", 1, 1L, "a"), ("INSERT", 2, 2L, "b"), ("DELETE", 3, 1L, "a")))
      val ranged = spark.read.option("fromVersion", "1").option("toVersion", "2")
        .table(s"gcdfb.$t.changelog")
        .select("_change_type", "_change_version", "id", "s")
        .as[(String, Int, Long, String)].collect().toSet
      assert(ranged === Set(("INSERT", 2, 2L, "b")))
      val e = intercept[Exception](spark.read.option("fromVersion", "x")
        .table(s"gcdfb.$t.changelog").collect())
      assert(msgChain(e).contains("fromVersion"), msgChain(e))
    }
  }

  test("batch .changelog reads a BRANCH chain with option(branch)") {
    withCat("gcdfr") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.brsrc"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
      io.createBranch(t, "exp")
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("exp"))
      // fork-baseline default: only the branch's own change
      val got = spark.read.option("branch", "exp").table(s"gcdfr.$t.changelog")
        .select("_change_type", "id", "s").as[(String, Long, String)].collect().toSet
      assert(got === Set(("INSERT", 2L, "b")))
      // fromVersion 0 replays the inherited fork content too
      val all = spark.read.option("branch", "exp").option("fromVersion", "0")
        .table(s"gcdfr.$t.changelog")
        .select("_change_type", "id", "s").as[(String, Long, String)].collect().toSet
      assert(all === Set(("INSERT", 1L, "a"), ("INSERT", 2L, "b")))
    }
  }

  test("a BRANCH changelog streams: WAP audit consumer follows the branch across drains") {
    withCat("gcdbs") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.brstream"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
      io.createBranch(t, "wap") // branch v1 = fork record
      io.append(Seq((2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("wap")) // v2
      val ckpt = Files.createTempDirectory("graft_cdbs_").toString
      // first drain: the branch's own changes (fork-baseline default)
      assert(drain(s"gcdbs.$t.changelog", ckpt, Map("branch" -> "wap")).toSet ===
        Set(("INSERT", 2, 2L, "b"), ("INSERT", 2, 3L, "c")))
      assert(drain(s"gcdbs.$t.changelog", ckpt, Map("branch" -> "wap")).isEmpty)
      // a branch MOR delete: MOR-aware step, kill reported at its version
      io.deleteWhereMOR(t, col("id") === 3L, ref = Ref.Branch("wap")) // v3
      assert(drain(s"gcdbs.$t.changelog", ckpt, Map("branch" -> "wap")).toSet ===
        Set(("DELETE", 3, 3L, "c")))
      // fast_forward leaves a rebase record on the chain: nets zero
      io.fastForward(t, "wap")
      assert(drain(s"gcdbs.$t.changelog", ckpt, Map("branch" -> "wap")).isEmpty)
      // batch-only bounds reject on the stream
      val eOpt = intercept[Exception] {
        drain(s"gcdbs.$t.changelog",
          Files.createTempDirectory("graft_cdbso_").toString,
          Map("branch" -> "wap", "fromVersion" -> "1"))
      }
      assert(msgChain(eOpt).contains("batch-only"), msgChain(eOpt))
    }
  }

  test("a re-forked branch invalidates the stream checkpoint loudly (fork id rides the offset)") {
    withCat("gcdrf") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.refork"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
      io.createBranch(t, "audit")
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("audit"))
      val ckpt = Files.createTempDirectory("graft_cdrf_").toString
      assert(drain(s"gcdrf.$t.changelog", ckpt, Map("branch" -> "audit")).toSet ===
        Set(("INSERT", 2, 2L, "b")))
      // drop + re-create: version numbering restarts — the checkpointed
      // offset (fork A, v2) must not resume against fork B's v2
      io.dropBranch(t, "audit")
      io.createBranch(t, "audit")
      io.append(Seq((9L, "z")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("audit"))
      val e = intercept[Exception] {
        drain(s"gcdrf.$t.changelog", ckpt, Map("branch" -> "audit"))
      }
      assert(msgChain(e).contains("re-created"), msgChain(e))
      // a fresh checkpoint reads the new fork cleanly
      assert(drain(s"gcdrf.$t.changelog",
        Files.createTempDirectory("graft_cdrf2_").toString,
        Map("branch" -> "audit")).toSet === Set(("INSERT", 2, 9L, "z")))
    }
  }

  test("merge-on-read commits are first-class changelog steps: kills report, applyDeletes nets zero") {
    withCat("gcdfm") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.msrc"
      io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t) // v1
      val ckpt = Files.createTempDirectory("graft_cdfm_").toString
      assert(drain(s"gcdfm.$t.changelog", ckpt).toSet === Set(
        ("INSERT", 1, 1L, "a"), ("INSERT", 1, 2L, "b"), ("INSERT", 1, 3L, "c")))

      // a MOR position delete changes no files but its entry kills a
      // row: the changelog reports exactly that DELETE at v2
      io.deleteWhereMOR(t, col("id") === 2L) // v2
      assert(drain(s"gcdfm.$t.changelog", ckpt).toSet === Set(("DELETE", 2, 2L, "b")))

      // a MOR equality upsert: DELETE(old image) + INSERT(new row) at v3
      io.upsertMOR(t, Seq((3L, "C")).toDF("id", "s").coalesce(1), Seq("id")) // v3
      assert(drain(s"gcdfm.$t.changelog", ckpt).toSet === Set(
        ("DELETE", 3, 3L, "c"), ("INSERT", 3, 3L, "C")))

      // applyDeletes materializes what was already reported: ZERO rows
      io.applyDeletes(t) // v4
      assert(drain(s"gcdfm.$t.changelog", ckpt).isEmpty)

      // and the full streamed replay equals the batch changelog replay
      val ckpt2 = Files.createTempDirectory("graft_cdfm2_").toString
      val streamed = drain(s"gcdfm.$t.changelog", ckpt2).toSet
      val batch = io.readChangelog(t)
        .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
        .as[(String, Int, Long, String)].collect().toSet
      assert(streamed === batch)
      // replaying the changelog per key reconstructs the table
      val live = streamed.groupBy(_._3).flatMap { case (_, cs) =>
        val latest = cs.maxBy(c => (c._2, if (c._1 == "INSERT") 1 else 0))
        if (latest._1 == "INSERT") Some((latest._3, latest._4)) else None
      }.toSet
      assert(live === io.read(t).as[(Long, String)].collect().toSet)
    }
  }

  test("a MOR pure-delete CDC batch and a dirty-range start both read correctly") {
    withCat("gcdfn") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.nsrc"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t) // v1
      io.deleteWhereMOR(t, col("id") === 2L) // v2 (head stays dirty)
      // cdcApplyMOR with a delete event: key-only equality kill at v3
      io.cdcApplyMOR(t, Seq((1L, "x", "D")).toDF("id", "s", "op"), Seq("id"), "op") // v3
      val got = drain(s"gcdfn.$t.changelog",
        Files.createTempDirectory("graft_cdfn_").toString)
      assert(got.toSet === Set(
        ("INSERT", 1, 1L, "a"), ("INSERT", 1, 2L, "b"),
        ("DELETE", 2, 2L, "b"), ("DELETE", 3, 1L, "a")))
      // a stream STARTING at the dirty v2 baseline reports only v3's
      // kill — pre-baseline deletions are part of the baseline
      val got2 = drain(s"gcdfn.$t.changelog",
        Files.createTempDirectory("graft_cdfn2_").toString,
        Map("startingVersion" -> "2"))
      assert(got2.toSet === Set(("DELETE", 3, 1L, "a")))
    }
  }

  test("rollback steps diff merged STATES exactly: resurrections INSERT, losses DELETE, MOR entries honored") {
    withCat("gcdro") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.rosrc"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t) // v1
      io.deleteWhereMOR(t, col("id") === 2L) // v2: dirty, DELETE(2) reported
      io.applyDeletes(t) // v3: nets zero
      io.catalog.rollbackTo(t, 1) // v4: id=2 RESURRECTS (back to the pre-delete state)
      val got = io.readChangelog(t)
        .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
        .as[(String, Int, Long, String)].collect().toSet
      assert(got === Set(
        ("INSERT", 1, 1L, "a"), ("INSERT", 1, 2L, "b"),
        ("DELETE", 2, 2L, "b"),
        ("INSERT", 4, 2L, "b"))) // the rollback's exact state diff
      // rolling back TO a dirty snapshot: the restored state is the
      // MERGED view (entry carried), so the diff nets zero vs v2's
      // merged state reached again
      val t2 = "default.rosrc2"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t2) // v1
      io.deleteWhereMOR(t2, col("id") === 2L) // v2: dirty
      io.catalog.rollbackTo(t2, 2) // v3: identical merged state
      val got2 = io.readChangelog(t2)
        .select(col("_change_type"), col("_change_version"), col("id"))
        .as[(String, Int, Long)].collect().toSet
      assert(got2 === Set(("INSERT", 1, 1L), ("INSERT", 1, 2L), ("DELETE", 2, 2L)))
      // and the streamed replay agrees with the batch one across both
      val streamed = drain(s"gcdro.$t.changelog",
        Files.createTempDirectory("graft_cdro_").toString).toSet
      assert(streamed === got)
    }
  }

  test("column pruning: a consumer selecting only data columns (or only change columns) reads clean") {
    withCat("gcdfp") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.psrc"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
      io.deleteWhere(t, col("id") === 1L)
      val buf = mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.table(s"gcdfp.$t.changelog")
        .select("id", "_change_type") // prunes s and _change_version
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_cdfp_").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= batch.as[(Long, String)].collect() }
          ()
        }
        .start()
      q.awaitTermination()
      assert(buf.toSet === Set(1L -> "INSERT", 2L -> "INSERT", 1L -> "DELETE"))
    }
  }

  test("an ADD-ONLY stamped rollback streams via the staged exact diff, matching the batch replay") {
    withCat("gcdao") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.aosrc"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t) // v1
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t) // v2
      io.catalog.rollbackTo(t, 1) // v3: drops the second file
      io.catalog.rollbackTo(t, 2) // v4: RE-ADDS it — no removals, same entries:
      // the file/entry shape is indistinguishable from a pure append,
      // only the graft.op=rollback stamp routes it to the staged diff
      assert(io.catalog.manifest(t, 3).toSet.subsetOf(io.catalog.manifest(t, 4).toSet),
        "construction must be an add-only rollback step")
      val batch = io.readChangelog(t)
        .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
        .as[(String, Int, Long, String)].collect().toSet
      assert(batch === Set(
        ("INSERT", 1, 1L, "a"), ("INSERT", 2, 2L, "b"),
        ("DELETE", 3, 2L, "b"), ("INSERT", 4, 2L, "b")))
      val streamed = drain(s"gcdao.$t.changelog",
        Files.createTempDirectory("graft_cdao_").toString).toSet
      assert(streamed === batch)
    }
  }

  test("batch .changelog accepts Delta-style timestamp bounds on the main chain") {
    withCat("gcdts") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.tsrc"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t) // v1
      Thread.sleep(30)
      val mid = System.currentTimeMillis()
      Thread.sleep(30)
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t) // v2
      def changes(opts: (String, String)*): Set[(String, Long)] =
        opts.foldLeft(spark.read) { case (r, (k, v)) => r.option(k, v) }
          .table(s"gcdts.$t.changelog")
          .select("_change_type", "id").as[(String, Long)].collect().toSet
      // commits AT OR AFTER the instant
      assert(changes("fromTimestamp" -> mid.toString) === Set(("INSERT", 2L)))
      // commits at or before it
      assert(changes("toTimestamp" -> mid.toString) === Set(("INSERT", 1L)))
      // an instant before the first commit bounds to zero changes
      assert(changes("toTimestamp" -> "0").isEmpty)
      // guard rails: exclusivity, branch rejection, literal validation
      val e1 = intercept[Exception](changes(
        "fromVersion" -> "0", "fromTimestamp" -> mid.toString))
      assert(msgChain(e1).contains("mutually exclusive"), msgChain(e1))
      io.createBranch(t, "b")
      val e2 = intercept[Exception](changes(
        "branch" -> "b", "fromTimestamp" -> mid.toString))
      assert(msgChain(e2).contains("main-only"), msgChain(e2))
      val e3 = intercept[Exception](changes("fromTimestamp" -> "banana"))
      assert(msgChain(e3).contains("epoch-millis"), msgChain(e3))
    }
  }

  test("changelog stream schema evolution: ADD serves from restart with null-filled pre-ALTER files") {
    withCat("gcdse") { _ =>
      val t = "default.clevo"
      spark.sql(s"CREATE TABLE gcdse.$t (id BIGINT, s STRING) USING parquet")
      spark.sql(s"INSERT INTO gcdse.$t SELECT 1, 'a'") // v1
      val ckpt = Files.createTempDirectory("graft_cdse_").toString
      val io = TableIO(spark, spark.conf.get("spark.sql.catalog.gcdse.warehouse"))
      def drainWide(): Set[(String, Long, Option[String])] = {
        val buf = mutable.ArrayBuffer.empty[(String, Long, Option[String])]
        val q = spark.readStream.table(s"gcdse.$t.changelog").writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.synchronized {
              buf ++= batch.select("_change_type", "id", "tag")
                .collect().map(r => (r.getString(0), r.getLong(1),
                  Option(r.getString(2))))
            }
            ()
          }
          .start()
        q.awaitTermination()
        buf.toSet
      }
      // same contract as the table stream (StreamTableSourceSpec): the
      // restart resolves the NEW schema; a pre-ALTER append in range
      // null-fills the added column, post-ALTER changes carry it —
      // including a staged COW-delete diff read back under the new
      // schema
      assert(drain(s"gcdse.$t.changelog",
        Files.createTempDirectory("graft_cdse0_").toString).nonEmpty) // sanity: v1 streams
      spark.sql(s"INSERT INTO gcdse.$t SELECT 2, 'b'") // v2: file lacks 'tag'
      spark.sql(s"ALTER TABLE gcdse.$t ADD COLUMN tag STRING")
      spark.sql(s"INSERT INTO gcdse.$t SELECT 3, 'c', 'T'") // v3
      io.deleteWhere(t, col("id") === 2L) // v4: staged diff, post-ALTER schema
      assert(drainWide() === Set(
        ("INSERT", 1L, None), ("INSERT", 2L, None),
        ("INSERT", 3L, Some("T")), ("DELETE", 2L, None)))
    }
  }

  test("batch-only and streaming-only changelog options reject loudly instead of silently no-opping") {
    withCat("gcdop") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.optsrc"
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
      val e1 = intercept[Exception] {
        spark.read.option("startingVersion", "0")
          .table(s"gcdop.$t.changelog").collect()
      }
      assert(msgChain(e1).contains("streaming-only"), msgChain(e1))
      val e2 = intercept[Exception] {
        drain(s"gcdop.$t.changelog",
          Files.createTempDirectory("graft_cdop_").toString,
          Map("fromVersion" -> "0"))
      }
      assert(msgChain(e2).contains("batch-only"), msgChain(e2))
    }
  }

  test("admission control: maxVersionsPerBatch bounds CDF catch-up batches, union equals the uncapped drain") {
    withCat("gcdadm") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.cdfrate"
      io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
      io.append(Seq((3L, "c")).toDF("id", "s").coalesce(1), t)
      io.deleteWhere(t, col("id") === 1L) // COW DML: DELETE + carried rows
      io.append(Seq((4L, "d")).toDF("id", "s").coalesce(1), t)

      // capped: one commit per micro-batch -> version sets per batch
      // are singletons; union equals the uncapped replay
      val batches = mutable.ArrayBuffer.empty[Set[Int]]
      val rows = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
      val q = spark.readStream
        .option("maxVersionsPerBatch", "1")
        .table(s"gcdadm.$t.changelog").writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_cdfadm_").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = batch.select("_change_type", "_change_version", "id", "s")
            .as[(String, Int, Long, String)].collect()
          if (got.nonEmpty) batches.synchronized {
            batches += got.map(_._2).toSet
            rows ++= got
          }
          ()
        }
        .start()
      q.awaitTermination()
      assert(batches.forall(_.size == 1),
        s"a capped batch mixed versions: $batches")
      assert(batches.length === 4, s"got $batches") // v1, v2 appends; v3 DML diff; v4 append
      val uncapped = drain(s"gcdadm.$t.changelog",
        Files.createTempDirectory("graft_cdfadm2_").toString)
      assert(rows.toSet === uncapped.toSet)
    }
  }

  test("admission control: maxBytesPerBatch budgets CDF batches by added-file bytes, oversized commits still flow") {
    withCat("gcdbyt") { wh =>
      val io = TableIO(spark, wh)
      val t = "default.cdfbytes"
      // two small appends, one ~50x bigger, one small trailer
      io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
      io.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), t)
      io.append((100L to 2000L).map(i => (i, s"pad$i" * 40)).toDF("id", "s").coalesce(1), t)
      io.append(Seq((3L, "c")).toDF("id", "s").coalesce(1), t)
      val small = io.catalog.manifest(t, 1).map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      val batches = mutable.ArrayBuffer.empty[Set[Int]]
      val rows = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
      val q = spark.readStream
        .option("maxBytesPerBatch", (small * 3).toString)
        .table(s"gcdbyt.$t.changelog").writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_cdfbyt_").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = batch.select("_change_type", "_change_version", "id", "s")
            .as[(String, Int, Long, String)].collect()
          if (got.nonEmpty) batches.synchronized {
            batches += got.map(_._2).toSet
            rows ++= got
          }
          ()
        }
        .start()
      q.awaitTermination()
      // v1+v2 fit the budget together; v3 exceeds it ALONE and still
      // flows; v4 trails
      assert(batches.toSeq === Seq(Set(1, 2), Set(3), Set(4)), s"got $batches")
      val uncapped = drain(s"gcdbyt.$t.changelog",
        Files.createTempDirectory("graft_cdfbyt2_").toString)
      assert(rows.toSet === uncapped.toSet)
    }
  }

  test("a change stage whose first write attempt failed serves the same rows to every planning") {
    val wh = Files.createTempDirectory("graft_cdfretry_").toString
    val ckpt = Files.createTempDirectory("graft_cdfretryc_").toString
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_cdfretry", ".log").toFile
    val cmd = (Seq(javaBin) ++ graft.io.CrossProcessSpec.jvmOpens ++ Seq(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.ChangeStageRetryWorker",
      wh, ckpt)).asJava
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).redirectOutput(log).start()
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"worker timed out; log: $log")
    val lines = Files.readAllLines(log.toPath).asScala
    val tail = lines.takeRight(30).mkString("\n")
    assert(p.exitValue() == 0, s"worker failed (exit ${p.exitValue()}); tail:\n$tail")
    assert(lines.exists(l => l.contains("graft-cdf-retry stage file by task") && l.endsWith("attempt 1")),
      s"the change-stage write never retried; tail:\n$tail")
    val Planning = """.*graft-cdf-retry batch (\d+) planning (\d): (.*)""".r
    val plannings = lines.collect { case Planning(b, k, rows) => (b.toLong, k.toInt) -> rows }
    val batches = plannings.map(_._1._1).distinct
    assert(batches.nonEmpty, s"no batch ran; tail:\n$tail")
    batches.foreach { b =>
      val rows = plannings.collect { case ((`b`, _), r) => r }
      val same = rows.size == 2 && rows(0) == rows(1)
      assert(same, s"batch $b's two plannings differ")
    }
    val served = plannings.collect { case ((_, 1), r) => r }.flatMap(_.split(";")).filter(_.nonEmpty)
    val expected = (1L to 200L).map(i => s"(INSERT,1,$i,r$i)") ++
      (1L to 100L).flatMap(i => Seq(s"(DELETE,2,$i,r$i)", s"(INSERT,2,$i,u)"))
    val exact = served.sorted == expected.sorted
    assert(exact, s"served ${served.size} rows (${served.distinct.size} distinct), expected ${expected.size}")
  }
}
