package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Model-based fuzz of the table layer: a deterministic random
  * sequence of append / overwrite / deleteWhere / updateWhere /
  * compact / expire+GC ops runs against BOTH the real TableIO and a
  * driver-side model (a plain Map of id -> value). After every op the
  * table must equal the model exactly; snapshots taken along the way
  * must stay readable until expired. Catches cross-op interactions no
  * single-op spec enumerates (e.g. DML after partitioned append after
  * compaction after GC). The model fuzz runs on main AND on a freshly
  * forked branch with the same seed and assertions: main is just a
  * branch.
  */
class TableFuzzSpec extends graft.SparkSpec {
  import spark.implicits._

  test("200 random table ops match the driver-side model at every step") {
    modelFuzz(Ref.Main)
  }

  test("200 random table ops match the driver-side model at every step on a forked branch") {
    modelFuzz(Ref.Branch("fuzz"))
  }

  private def modelFuzz(ref: Ref): Unit = {
    val io = TableIO(spark, Files.createTempDirectory("graft_fuzz_").toString)
    val t = "default.fuzz"
    val rnd = new scala.util.Random(20260813L)
    var model = Map.empty[Long, Double]
    var nextId = 0L
    // (version -> expected rows) for time-travel checks; pruned on expiry
    var snapshots = Map.empty[Int, Map[Long, Double]]

    def freshRows(n: Int): Seq[(Long, Double)] =
      (0 until n).map { _ =>
        nextId += 1
        nextId -> (rnd.nextInt(1000) / 10.0)
      }

    def check(step: Int, op: String): Unit = {
      val got = io.read(t, ref).as[(Long, Double)].collect().toMap
      assert(got == model, s"step $step ($op): table diverged from model " +
        s"(got ${got.size} rows, want ${model.size})")
      assert(io.rowCount(t, ref) == model.size.toLong, s"step $step ($op): rowCount diverged")
    }
    def live: Seq[Int] = io.catalog.versions(t, ref)

    // seed so every op has something to chew on; a branch forks it
    val seed = freshRows(20)
    io.append(seed.toDF("id", "v"), t)
    ref match {
      case Ref.Branch(b) => io.createBranch(t, b)
      case Ref.Main => ()
    }
    model = seed.toMap

    // pending write-audit-publish stages: id -> the rows they carry
    // (never in `model` until published; dropped whole on discard)
    var pending = Map.empty[String, Map[Long, Double]]

    (1 to 200).foreach { step =>
      val op = rnd.nextInt(100) match {
        case r if r < 28 => // append 1-10 fresh rows
          val rows = freshRows(1 + rnd.nextInt(10))
          io.append(rows.toDF("id", "v"), t, ref = ref)
          model = model ++ rows
          "append"
        case r if r < 36 => // overwrite with a fresh small table
          val rows = freshRows(5 + rnd.nextInt(10))
          io.overwrite(rows.toDF("id", "v"), t, ref = ref)
          model = rows.toMap
          "overwrite"
        case r if r < 49 => // delete a random value band
          val lo = rnd.nextInt(90)
          io.deleteWhere(t, col("v") >= lo && col("v") < lo + 15, ref = ref)
          model = model.filterNot { case (_, v) => v >= lo && v < lo + 15 }
          "deleteWhere"
        case r if r < 62 => // update a random value band
          val lo = rnd.nextInt(90)
          io.updateWhere(t, col("v") >= lo && col("v") < lo + 10,
            Map("v" -> (col("v") + org.apache.spark.sql.functions.lit(1000.0))), ref = ref)
          model = model.map { case (k, v) =>
            k -> (if (v >= lo && v < lo + 10) v + 1000.0 else v) }
          "updateWhere"
        case r if r < 70 =>
          io.compact(t, ref = ref)
          "compact"
        case r if r < 78 => // stage an append: public read must NOT move
          val rows = freshRows(1 + rnd.nextInt(5))
          val sid = io.appendStaged(rows.toDF("id", "v"), t)
          pending += sid -> rows.toMap
          // the audit view is current ∪ this stage, exactly
          assert(io.readStaged(t, sid, ref).as[(Long, Double)].collect().toMap ==
            model ++ rows.toMap, s"step $step: staged audit view wrong")
          "stageAppend"
        case r if r < 84 && pending.nonEmpty => // publish a random stage
          // sorted keys: UUID map order would make the fixed seed
          // non-reproducing
          val sid = pending.keys.toSeq.sorted.apply(rnd.nextInt(pending.size))
          val rows = pending(sid)
          io.publishStaged(t, sid, ref)
          pending -= sid
          model = model ++ rows
          "publish"
        case r if r < 88 && pending.nonEmpty => // discard a random stage
          val sid = pending.keys.toSeq.sorted.apply(rnd.nextInt(pending.size))
          io.discardStaged(t, sid)
          pending -= sid
          "discard"
        case r if r < 93 && snapshots.keys.exists(live.contains) =>
          // roll back to a remembered live snapshot: the table becomes
          // exactly that recorded state, as a NEW version
          val alive = snapshots.keys.toSeq.filter(live.contains).sorted
          val v = alive(rnd.nextInt(alive.size))
          io.catalog.rollbackTo(t, v, ref)
          model = snapshots(v)
          "rollback"
        case _ =>
          val expired = io.catalog.expireSnapshots(t, keepLast = 3, ref = ref)
          snapshots = snapshots.removedAll(expired)
          io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
          // pending stages must survive GC bit-for-bit
          pending.foreach { case (sid, rows) =>
            assert(io.readStaged(t, sid, ref).as[(Long, Double)].collect().toMap == model ++ rows,
              s"step $step: GC damaged pending stage $sid")
          }
          "expire+gc"
      }
      check(step, op)
      if (rnd.nextInt(10) == 0)
        io.catalog.currentVersion(t, ref).foreach(v => snapshots += v -> model)
      // every remembered, unexpired snapshot stays exactly readable
      if (step % 25 == 0) snapshots.foreach { case (v, expect) =>
        if (live.contains(v))
          assert(io.readVersion(t, v, ref).as[(Long, Double)].collect().toMap == expect,
            s"step $step: snapshot v$v no longer matches its recorded state")
      }
    }
    // final deep check: changelog over the surviving history replays
    // the oldest readable snapshot to the live state. The history is
    // the contiguous tail of live versions (a branch's fork record is
    // pinned apart from it)
    val vs = live.reverse
    val oldest = vs.zipWithIndex.takeWhile { case (v, i) => v == vs.head - i }.last._1
    val base = io.readVersion(t, oldest, ref).as[(Long, Double)].collect().toMap
    val rows = io.readChangelog(t, fromVersion = oldest, ref = ref)
      .select("id", "v", "_change_type").as[(Long, Double, String)].collect()
    val net = rows.foldLeft(base.map { case (k, v) => (k, v) -> 1 }) {
      case (m, (id, v, ct)) =>
        m.updated((id, v), m.getOrElse((id, v), 0) + (if (ct == "INSERT") 1 else -1))
    }.filter(_._2 != 0)
    assert(net.values.forall(_ == 1), s"changelog net counts out of range: ${net.filter(_._2 != 1)}")
    assert(net.keySet.map(_._1) == model.keySet,
      "changelog replay over surviving history does not reproduce the live id set")
  }

  test("80 random branch ops keep main and every live branch true to the model") {
    val io = TableIO(spark, Files.createTempDirectory("graft_brfuzz_").toString)
    val t = "default.brfuzz"
    val rnd = new scala.util.Random(20260814L)
    var nextId = 0L
    def freshRows(n: Int): Seq[(Long, Double)] =
      (0 until n).map { _ => nextId += 1; nextId -> (rnd.nextInt(1000) / 10.0) }

    var mainModel: Map[Long, Double] = {
      val seed = freshRows(20)
      io.append(seed.toDF("id", "v"), t)
      seed.toMap
    }
    // per-branch model: expected rows + whether fast-forward is legal
    // (main advanced only via THIS branch since its fork/last rebase)
    final case class Br(var rows: Map[Long, Double], var canFF: Boolean)
    var branches = Map.empty[String, Br]
    var brSeq = 0
    // remembered main snapshots for rollback targets
    var snapshots = Map.empty[Int, Map[Long, Double]]

    def check(step: Int, op: String): Unit = {
      assert(io.read(t).as[(Long, Double)].collect().toMap == mainModel,
        s"step $step ($op): MAIN diverged from model")
      branches.foreach { case (b, m) =>
        assert(io.read(t, Ref.Branch(b)).as[(Long, Double)].collect().toMap == m.rows,
          s"step $step ($op): branch $b diverged from model")
      }
    }

    (1 to 80).foreach { step =>
      val op = rnd.nextInt(100) match {
        case r if r < 20 => // independent main append: diverges EVERY branch
          val rows = freshRows(1 + rnd.nextInt(6))
          io.append(rows.toDF("id", "v"), t)
          mainModel ++= rows
          branches.values.foreach(_.canFF = false)
          "append-main"
        case r if r < 32 && branches.size < 4 =>
          brSeq += 1
          val b = s"b$brSeq"
          io.createBranch(t, b)
          branches += b -> Br(mainModel, canFF = true)
          "createBranch"
        case r if r < 54 && branches.nonEmpty =>
          val b = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
          val rows = freshRows(1 + rnd.nextInt(6))
          io.append(rows.toDF("id", "v"), t, ref = Ref.Branch(b))
          branches(b).rows ++= rows
          "appendToBranch"
        case r if r < 64 && branches.nonEmpty => // row-preserving rewrite
          val b = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
          io.compact(t, targetFiles = 1, ref = Ref.Branch(b))
          "compactBranch"
        case r if r < 78 && branches.nonEmpty =>
          val b = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
          val m = branches(b)
          if (m.canFF) {
            io.fastForward(t, b)
            mainModel = m.rows
            // main advanced via THIS branch: its rebase record keeps it
            // integrable; every OTHER branch is now diverged
            branches.foreach { case (ob, om) => if (ob != b) om.canFF = false }
            "fastForward"
          } else {
            // a diverged integration must refuse AND change nothing
            intercept[IllegalArgumentException](io.fastForward(t, b))
            "fastForward-refused"
          }
        case r if r < 84 && branches.nonEmpty =>
          val b = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
          assert(io.dropBranch(t, b))
          branches -= b
          "dropBranch"
        case r if r < 88 && branches.nonEmpty => // branch-chain expiry
          val b = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
          io.catalog.expireSnapshots(t, keepLast = 1, ref = Ref.Branch(b))
          "expireBranch" // rows unchanged; check() proves the head reads
        case r if r < 93 && snapshots.keys.exists(io.versions(t).contains) =>
          // rollback SHRINKS main to a remembered state: every branch
          // becomes non-integrable (the rollback-resurrection guard)
          val live = snapshots.keys.toSeq.filter(io.versions(t).contains).sorted
          val v = live(rnd.nextInt(live.size))
          io.catalog.rollbackTo(t, v)
          mainModel = snapshots(v)
          branches.values.foreach(_.canFF = false)
          "rollback"
        case _ =>
          val expired = io.catalog.expireSnapshots(t, keepLast = 3)
          snapshots = snapshots.removedAll(expired)
          io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
          "expire+gc" // branch reads in check() prove GC kept them whole
      }
      check(step, op)
      if (rnd.nextInt(8) == 0)
        io.catalog.currentVersion(t).foreach(v => snapshots += v -> mainModel)
    }
  }
}
