package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Orphan-file cleanup end to end (r19 verdict item 7, the Iceberg
  * remove_orphan_files contract): plant the two real failure residues
  * — a data file no manifest references (a crashed write that moved
  * files but never committed) and an abandoned `.stage-` staging tree
  * (a writer that died mid-job) — next to live state on EVERY
  * reference kind (current snapshot, older snapshot, tag, branch,
  * WAP-staged manifest), sweep, and prove the residues die while
  * every live file survives and every surface still reads.
  */
class OrphanSweepSpec extends SparkSpec {
  import spark.implicits._

  test("sweep reclaims crashed-write residue; every snapshot/tag/branch/staged file survives") {
    val wh = Files.createTempDirectory("graft_orph_").toString
    val io = TableIO(spark, wh)
    val t = "default.orph"

    // live state across every reference kind:
    io.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t)  // v1
    io.catalog.tagSnapshot(t, "gold", 1)
    io.append((10L until 20L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1), t) // v2
    io.createBranch(t, "audit")
    io.append(Seq((100L, "br")).toDF("id", "s"), t, ref = Ref.Branch("audit"))
    val stageId = io.appendStaged(Seq((200L, "wap")).toDF("id", "s"), t)
    val liveBefore = io.catalog.listDataFiles(t).toSet

    // residue 1: a crashed write's moved-but-never-committed data file
    val orphan = Paths.get(io.catalog.dataPath(t), "part-orphan-crashed.snappy.parquet")
    Seq((999L, "orphan")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$wh/.tmp_orphan_src")
    val src = Files.list(Paths.get(s"$wh/.tmp_orphan_src")).iterator()
    var copied = false
    while (src.hasNext && !copied) {
      val p = src.next()
      if (p.toString.endsWith(".parquet")) { Files.copy(p, orphan); copied = true }
    }
    assert(copied, "fixture setup must plant a parquet orphan")

    // residue 2: an abandoned write-staging tree outside data/
    val stage = Paths.get(io.catalog.pathOf(t), ".stage-deadwriter")
    Files.createDirectories(stage.resolve("_temporary"))
    Files.writeString(stage.resolve("_temporary").resolve("part-x.parquet"), "dead")

    // age both residues past the cutoff (the guard that protects
    // commit-in-flight writers from the sweep)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    Files.setLastModifiedTime(orphan, old)
    Files.walk(stage).forEach(p => Files.setLastModifiedTime(p, old))

    val deleted = io.catalog.removeOrphanFiles(t) // default 24h age guard
    assert(deleted.map(Paths.get(_).getFileName.toString)
      .contains("part-orphan-crashed.snappy.parquet"),
      s"the crashed write's file must be reclaimed, deleted = $deleted")
    assert(!Files.exists(orphan))
    assert(!Files.exists(stage), "the abandoned staging tree must be reclaimed")

    // every live file survived the sweep, across every reference kind
    val liveAfter = io.catalog.listDataFiles(t).toSet
    assert(liveBefore.subsetOf(liveAfter),
      s"sweep deleted live files: ${liveBefore.diff(liveAfter)}")
    // and every surface still reads its full row set
    assert(io.read(t).count() == 20)                        // current
    assert(io.readVersion(t, 1).count() == 10)              // older snapshot
    assert(io.readTag(t, "gold").count() == 10)             // tag
    assert(io.read(t, Ref.Branch("audit")).count() == 21)         // branch head
    assert(io.readStaged(t, stageId).count() == 21)         // staged (current ∪ staged)

    // a YOUNG unreferenced file is NOT swept (commit-in-flight guard)
    val young = Paths.get(io.catalog.dataPath(t), "part-young-inflight.snappy.parquet")
    Files.copy(Paths.get(liveBefore.head), young)
    val deleted2 = io.catalog.removeOrphanFiles(t)
    assert(!deleted2.exists(_.contains("part-young-inflight")),
      "a fresh unreferenced file may be a commit in flight — the age guard must skip it")
    assert(Files.exists(young))
  }
}
