package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.io.{GraftCatalog, Ref, TableIO}

/** Randomized (seeded) history equivalence for the streaming sources:
  * arbitrary op sequences must keep the maintenance-tolerant stream
  * equal to the appended-row set, and the streaming changelog equal to
  * the batch changelog replay — across interleavings no scripted
  * history covers.
  */
class StreamFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def withCat(cat: String)(body: String => Unit): Unit = {
    val wh = Files.createTempDirectory("graft_sfz_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(wh) finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("skipRewriteCommits drain == every appended row, over random append/compact histories") {
    withCat("gfz1") { wh =>
      val io = TableIO(spark, wh)
      Seq(11, 29).foreach { seed =>
        val rnd = new Random(seed)
        val t = s"default.fz$seed"
        val appended = mutable.Set.empty[(Long, String)]
        var nextId = 0L
        // every history starts with an append (a compaction of an
        // empty table is a no-op anyway)
        def appendBatch(): Unit = {
          val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
            val r = (nextId, s"s$seed-$nextId"); nextId += 1; r
          }
          appended ++= rows
          io.append(rows.toDF("id", "s").coalesce(1), t)
        }
        appendBatch()
        (0 until 12).foreach { _ =>
          rnd.nextInt(4) match {
            case 0 | 1 => appendBatch()
            case 2     => io.compact(t)
            case 3     => io.compactSorted(t, Seq("id"), targetFiles = 2)
          }
        }
        val buf = mutable.ArrayBuffer.empty[(Long, String)]
        val q = spark.readStream
          .option("skipRewriteCommits", "true")
          .table(s"gfz1.$t").writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", Files.createTempDirectory(s"graft_sfzc$seed").toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.synchronized { buf ++= batch.select("id", "s").as[(Long, String)].collect() }
            ()
          }
          .start()
        q.awaitTermination()
        // exactly once: as a SET and as a BAG
        assert(buf.size === appended.size, s"seed $seed: duplicates or losses")
        assert(buf.toSet === appended.toSet, s"seed $seed")
      }
    }
  }

  test("streamed changelog == batch readChangelog replay, over random append/DML/MOR/compact histories") {
    withCat("gfz2") { wh =>
      val io = TableIO(spark, wh)
      Seq(7, 43).foreach { seed =>
        val rnd = new Random(seed)
        val t = s"default.cfz$seed"
        var nextId = 0L
        io.append((0 until 4).map { _ =>
          val r = (nextId, s"v$nextId"); nextId += 1; r
        }.toDF("id", "s").coalesce(1), t)
        (0 until 12).foreach { _ =>
          rnd.nextInt(8) match {
            case 0 | 1 =>
              val rows = (0 until (1 + rnd.nextInt(2))).map { _ =>
                val r = (nextId, s"v$nextId"); nextId += 1; r
              }
              io.append(rows.toDF("id", "s").coalesce(1), t)
            case 2 =>
              io.deleteWhere(t, col("id") % (2 + rnd.nextInt(3)) === rnd.nextInt(2))
            case 3 =>
              io.updateWhere(t, col("id") % (2 + rnd.nextInt(3)) === rnd.nextInt(2),
                Map("s" -> org.apache.spark.sql.functions.concat(col("s"), lit("u"))))
            case 4 =>
              io.compact(t)
            case 5 => // zero-read MOR position delete (dirty snapshots in range)
              io.deleteWhereMOR(t, col("id") % (3 + rnd.nextInt(3)) === rnd.nextInt(3))
              ()
            case 6 => // zero-read MOR equality upsert: an update + an insert
              val upd = rnd.nextLong(math.max(1L, nextId))
              val rows = Seq((upd, s"m$upd"), { val r = (nextId, s"v$nextId"); nextId += 1; r })
              io.upsertMOR(t, rows.toDF("id", "s").coalesce(1), Seq("id"))
              ()
            case 7 =>
              io.applyDeletes(t)
              ()
          }
        }
        val buf = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
        val q = spark.readStream.table(s"gfz2.$t.changelog").writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", Files.createTempDirectory(s"graft_cfzc$seed").toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.synchronized {
              buf ++= batch.select("_change_type", "_change_version", "id", "s")
                .as[(String, Int, Long, String)].collect()
            }
            ()
          }
          .start()
        q.awaitTermination()
        val batchReplay = io.readChangelog(t)
          .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
          .as[(String, Int, Long, String)].collect()
        // bag equality: multiplicities matter for changelog semantics
        def bag(xs: Seq[(String, Int, Long, String)]) =
          xs.groupBy(identity).view.mapValues(_.size).toMap
        assert(bag(buf.toSeq) === bag(batchReplay.toSeq), s"seed $seed")
        // and replaying the STREAMED changelog reconstructs the table:
        // per key, the latest change (INSERT beats DELETE at the same
        // version) is the live row or a tombstone
        val live = buf.groupBy(_._3).flatMap { case (_, changes) =>
          val latest = changes.maxBy(c => (c._2, if (c._1 == "INSERT") 1 else 0))
          if (latest._1 == "INSERT") Some((latest._3, latest._4)) else None
        }.toSet
        val current = io.read(t).as[(Long, String)].collect().toSet
        assert(live === current, s"seed $seed: changelog replay != current table")
      }
    }
  }

  test("streamed BRANCH changelog == batch replay over random branch histories; dirty fast-forward nets") {
    withCat("gfz3") { wh =>
      val io = TableIO(spark, wh)
      Seq(13, 31, 57).foreach { seed =>
        val rnd = new Random(seed)
        val t = s"default.bfz$seed"
        var nextId = 0L
        def mkRows(n: Int): Seq[(Long, String)] =
          (0 until n).map { _ => val r = (nextId, s"v$nextId"); nextId += 1; r }
        io.append(mkRows(4).toDF("id", "s").coalesce(1), t) // main v1
        val vMain = io.catalog.currentVersion(t).get
        val forkContent = io.read(t).as[(Long, String)].collect().toSet
        io.createBranch(t, "b")
        (0 until 8).foreach { _ =>
          rnd.nextInt(6) match {
            case 0 | 1 =>
              io.append(mkRows(1 + rnd.nextInt(2)).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("b"))
            case 2 =>
              io.deleteWhereMOR(t, col("id") % (3 + rnd.nextInt(3)) === rnd.nextInt(3),
                ref = Ref.Branch("b"))
              ()
            case 3 =>
              val upd = rnd.nextLong(math.max(1L, nextId))
              io.upsertMOR(t, (Seq((upd, s"m$upd")) ++ mkRows(1)).toDF("id", "s").coalesce(1),
                Seq("id"), ref = Ref.Branch("b"))
              ()
            case 4 =>
              io.applyDeletes(t, ref = Ref.Branch("b"))
              ()
            case 5 =>
              io.compact(t, targetFiles = 2, ref = Ref.Branch("b"))
              ()
          }
        }
        // key-replay convention shared with q136: latest change wins,
        // INSERT beats DELETE at the same version
        def replay(base: Set[(Long, String)],
                   changes: Seq[(String, Int, Long, String)]): Set[(Long, String)] = {
          val byKey = changes.groupBy(_._3)
          (base.map(_._1) ++ byKey.keySet).flatMap { k =>
            byKey.get(k) match {
              case None => base.find(_._1 == k)
              case Some(cs) =>
                val latest = cs.maxBy(c => (c._2, if (c._1 == "INSERT") 1 else 0))
                if (latest._1 == "INSERT") Some((latest._3, latest._4)) else None
            }
          }
        }
        def bag(xs: Seq[(String, Int, Long, String)]) =
          xs.groupBy(identity).view.mapValues(_.size).toMap
        val buf = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
        val q = spark.readStream.option("branch", "b")
          .table(s"gfz3.$t.changelog").writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", Files.createTempDirectory(s"graft_bfzc$seed").toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.synchronized {
              buf ++= batch.select("_change_type", "_change_version", "id", "s")
                .as[(String, Int, Long, String)].collect()
            }
            ()
          }
          .start()
        q.awaitTermination()
        val batchReplay = io.readChangelog(t, 1, ref = Ref.Branch("b"))
          .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
          .as[(String, Int, Long, String)].collect()
        assert(bag(buf.toSeq) === bag(batchReplay.toSeq), s"seed $seed: streamed != batch")
        // the branch's own changes replayed over the fork content
        // reconstruct the branch head (merged view)
        assert(replay(forkContent, buf.toSeq) ===
          io.read(t, Ref.Branch("b")).as[(Long, String)].collect().toSet,
          s"seed $seed: branch changelog replay != branch head")

        // publish the branch (possibly DIRTY: entries scoping
        // branch-appended files — the r17 netting shape) and check the
        // MAIN changelog's publish step replays to the final state
        io.fastForward(t, "b")
        io.applyDeletes(t)
        val mainChanges = io.readChangelog(t, fromVersion = vMain)
          .select(col("_change_type"), col("_change_version"), col("id"), col("s"))
          .as[(String, Int, Long, String)].collect()
        assert(replay(forkContent, mainChanges.toSeq) ===
          io.read(t).as[(Long, String)].collect().toSet,
          s"seed $seed: publish-step replay != published main")
      }
    }
  }
}
