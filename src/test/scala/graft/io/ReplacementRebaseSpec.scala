package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer optimistic retry for REPLACEMENT commits
  * (compactions, COW DML, metadata deletes): a version conflict
  * rebases when the racer's changes are file-disjoint from the
  * replaced set (append-vs-compact both land), and refuses by name
  * when they overlap (Iceberg's serializable behavior). Deterministic
  * here by committing the "racer" before a stale-pinned replacement;
  * the cross-JVM probabilistic version lives in CrossProcessSpec.
  */
class ReplacementRebaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshIo(prefix: String): TableIO =
    TableIO(spark, java.nio.file.Files.createTempDirectory(prefix).toString)

  test("stale compaction rebases over a racing append: both land, nothing lost") {
    val io = freshIo("graft_rb1_")
    val t = "default.rb1"
    io.append((0L until 8L).map(i => (i, s"a$i")).toDF("id", "s").repartition(2), t) // v1
    val v1Files = io.catalog.manifest(t, 1)
    io.append(Seq((100L, "late")).toDF("id", "s").coalesce(1), t) // v2 = racer
    // a rewrite of v1's content, PINNED at v1 — conflicts with v2,
    // must rebase: v3 = racer's file + the replacement files
    io.commitReplacement(io.readFiles(t, v1Files).repartition(1), t,
      keepFiles = Seq.empty, partitionCols = Seq.empty, baseVersion = 1,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
    val v3 = io.catalog.currentVersion(t).get
    assert(v3 == 3, s"rebased commit must land at 3, got $v3")
    val m3 = io.catalog.manifest(t, 3).toSet
    val racerFile = io.catalog.manifest(t, 2).toSet.diff(v1Files.toSet)
    assert(racerFile.subsetOf(m3), "the racing append's file must survive the rebase")
    assert(v1Files.toSet.intersect(m3).isEmpty, "every replaced file must leave the manifest")
    val rows = io.read(t).as[(Long, String)].collect().toSet
    assert(rows == ((0L until 8L).map(i => (i, s"a$i")).toSet + ((100L, "late"))))
  }

  test("stale compaction REFUSES by name when the racer rewrote a replaced file") {
    val io = freshIo("graft_rb2_")
    val t = "default.rb2"
    io.append((0L until 8L).map(i => (i, s"a$i")).toDF("id", "s").repartition(2), t) // v1
    val v1Files = io.catalog.manifest(t, 1)
    // racer: COW delete rewrites one of v1's files (overlapping change)
    io.deleteWhere(t, col("id") === 0L) // v2
    val e = intercept[ConcurrentCommitException] {
      io.commitReplacement(io.readFiles(t, v1Files).repartition(1), t,
        keepFiles = Seq.empty, partitionCols = Seq.empty, baseVersion = 1,
        props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
    }
    assert(e.getMessage.contains("removed or rewrote"), e.getMessage)
    assert(io.catalog.currentVersion(t).get == 2, "the refused rewrite must not commit")
    // the table still answers correctly (racer's delete intact)
    assert(io.read(t).as[(Long, String)].collect().toSet ==
      (1L until 8L).map(i => (i, s"a$i")).toSet)
  }

  test("stale rewrite REFUSES when a racing MOR delete targets a replaced file") {
    val io = freshIo("graft_rb3_")
    val t = "default.rb3"
    io.append((0L until 8L).map(i => (i, s"a$i")).toDF("id", "s").repartition(2), t) // v1
    val v1Files = io.catalog.manifest(t, 1)
    io.deleteWhereMOR(t, col("id") === 3L) // v2: metadata-only, files unchanged
    val e = intercept[ConcurrentCommitException] {
      io.commitReplacement(io.readFiles(t, v1Files).repartition(1), t,
        keepFiles = Seq.empty, partitionCols = Seq.empty, baseVersion = 1,
        props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
    }
    assert(e.getMessage.contains("merge-on-read delete"), e.getMessage)
    // merged read still hides the MOR-deleted row
    assert(!io.read(t).as[(Long, String)].collect().map(_._1).contains(3L))
  }

  test("rebase carries a racer's DISJOINT MOR delete (targets only the racer's own file)") {
    val io = freshIo("graft_rb4_")
    val t = "default.rb4"
    io.append((0L until 8L).map(i => (i, s"a$i")).toDF("id", "s").repartition(2), t) // v1
    val v1Files = io.catalog.manifest(t, 1)
    io.append(Seq((100L, "x"), (101L, "y")).toDF("id", "s").coalesce(1), t) // v2
    io.deleteWhereMOR(t, col("id") === 100L) // v3: entry targets ONLY the v2 file
    io.commitReplacement(io.readFiles(t, v1Files).repartition(1), t,
      keepFiles = Seq.empty, partitionCols = Seq.empty, baseVersion = 1,
      props = Map(TableCatalog.OpProp -> TableCatalog.OpRewrite))
    val v4 = io.catalog.currentVersion(t).get
    assert(v4 == 4)
    assert(io.catalog.pendingDeletes(t, v4).size == 1,
      "the racer's disjoint delete entry must ride the rebased commit")
    val rows = io.read(t).as[(Long, String)].collect().toSet
    assert(rows == ((0L until 8L).map(i => (i, s"a$i")).toSet + ((101L, "y"))),
      "rebased content = rewritten base + racer's rows minus its MOR delete")
  }

  test("metadata delete rebases over a racing append") {
    val io = freshIo("graft_rb5_")
    val t = "default.rb5"
    // three files with disjoint id ranges -> metadata-only delete scope
    io.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t)
    io.append((10L until 20L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t)
    val keep = io.catalog.manifest(t, 2).take(1) // pretend predicate proved file 2 all-match
    val base = io.catalog.currentVersion(t).get
    io.append(Seq((200L, "late")).toDF("id", "s").coalesce(1), t) // racer v3
    io.commitMetadataDelete(t, keep, base)
    val cur = io.catalog.currentVersion(t).get
    assert(cur == 4)
    val m = io.catalog.manifest(t, cur).toSet
    assert(m.size == 2, s"kept + racer file expected, got ${m.size}")
    assert(io.read(t).as[(Long, String)].collect().map(_._1).contains(200L),
      "the racing append's rows must survive the metadata-delete rebase")
  }

  test("a scoped DELETE over a dirty base carries a trimmed entry and never rebases over a racer") {
    val io = freshIo("graft_rb8_")
    val t = "default.rb8"
    io.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t) // file A
    io.append((10L until 20L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1), t) // file B
    io.deleteWhereMOR(t, col("id") === 15L) // v3: an entry dirty on B only
    val base = io.catalog.currentVersion(t).get
    // racer: another MOR delete on B lands at base+1
    io.deleteWhereMOR(t, col("id") === 12L)
    val racer = io.catalog.currentVersion(t).get
    // the DELETE, pinned at the dirty base: it rewrites A and carries B
    // with base's entry — a rebase would overwrite the racer's entry
    intercept[ConcurrentCommitException] {
      io.rewriteWhere(t, col("id") < 5L, Ref.Main, Seq.empty, dropCovered = true,
        baseVersion = Some(base))(_.filter(col("id") >= 5L))
    }
    assert(io.catalog.currentVersion(t).get == racer, "the refused DELETE must not commit")
    assert(io.catalog.pendingDeletes(t, racer).size == 2, "the racer's entries must survive")
    assert(io.read(t).as[(Long, String)].collect().map(_._1).toSet ==
      ((0L until 20L).toSet - 12L - 15L))
    // re-run against the new head: lands, keeping both entries on B
    io.deleteWhere(t, col("id") < 5L)
    val v = io.catalog.currentVersion(t).get
    assert(io.catalog.pendingDeletes(t, v).flatMap(_.dirtyFiles).distinct.size == 1)
    assert(io.read(t).as[(Long, String)].collect().map(_._1).toSet ==
      ((5L until 20L).toSet - 12L - 15L))
  }

  test("a MOR batch that lost the race to its own replay commits nothing (exactly-once)") {
    val io = freshIo("graft_rb9_")
    val t = "default.rb9"
    io.append((0L until 4L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t) // v1
    val stale = io.catalog.currentVersion(t).get
    val mark = Map(TableCatalog.streamBatchProp(Some("rb9")) -> "7")
    // a recovered query instance commits batch 7 first: key 1 replaced
    io.upsertMOR(t, Seq((1L, "b1")).toDF("id", "s"), Seq("id"), props = mark)
    val head = io.catalog.currentVersion(t).get
    // this instance's MOR commit of the SAME batch — its own copy of the
    // batch's data file and the same equality entry — pinned at the
    // stale head it planned against
    val batchFile = (io.catalog.manifest(t, head).toSet -- io.catalog.manifest(t, stale)).head
    val ownCopy = batchFile.stripSuffix(".parquet") + "-own.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(batchFile), java.nio.file.Paths.get(ownCopy))
    val entry = io.catalog.manifestProps(t, head)(TableCatalog.DeletesProp)
    val scoped = TableCatalog.decodeDeletes(entry).flatMap(_.dirtyFiles)
    val v = io.commitOnto(t, Ref.Main, Seq(ownCopy), Map.empty, mark, Some(stale),
      Some(entry), scoped)
    assert(v == head && io.catalog.currentVersion(t).get == head, "no version may be added")
    assert(io.read(t).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq(0L -> "a0", 1L -> "b1", 2L -> "a2", 3L -> "a3"), "no key may be duplicated")
  }

  // -- serializable conflict-detection filter (r19 advice): a
  // row-REMOVING command's rebase must refuse a racer-added file that
  // might hold predicate-matching rows; disjoint appends still rebase.

  private def statsConflictFn(io: TableIO, filters: Seq[org.apache.spark.sql.sources.Filter])
      : String => Boolean = f =>
    try FileStats.mightMatch(
      FileStats.cached(f, spark.sessionState.newHadoopConf()), filters)
    catch { case scala.util.control.NonFatal(_) => true }

  test("conflict filter: a racer append DISJOINT from the DELETE's predicate rebases") {
    val io = freshIo("graft_rb6_")
    val t = "default.rb6"
    io.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t) // v1
    val v = io.catalog.currentVersion(t).get
    // the command: DELETE WHERE id >= 1000 (provably misses the racer)
    val filters = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 1000L))
    val remaining = io.readVersion(t, v).filter(col("id") < 1000L)
    io.append(Seq((500L, "racer")).toDF("id", "s").coalesce(1), t) // racer v2, ids < 1000
    io.commitReplacement(remaining, t, Seq.empty, Seq.empty, baseVersion = v,
      newcomerConflicts = Some(statsConflictFn(io, filters)))
    assert(io.catalog.currentVersion(t).get == 3)
    assert(io.read(t).as[(Long, String)].collect().map(_._1).toSet ==
      ((0L until 10L).toSet + 500L), "disjoint racer rows survive, nothing deleted twice")
  }

  test("conflict filter: a racer append that MIGHT match the DELETE's predicate refuses") {
    val io = freshIo("graft_rb7_")
    val t = "default.rb7"
    io.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t) // v1
    val v = io.catalog.currentVersion(t).get
    // the command: DELETE WHERE id >= 5
    val filters = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 5L))
    val remaining = io.readVersion(t, v).filter(col("id") < 5L)
    io.append(Seq((7L, "racer")).toDF("id", "s").coalesce(1), t) // racer holds a matching row
    val e = intercept[ConcurrentCommitException] {
      io.commitReplacement(remaining, t, Seq.empty, Seq.empty, baseVersion = v,
        newcomerConflicts = Some(statsConflictFn(io, filters)))
    }
    assert(e.getMessage.contains("may hold rows"), e.getMessage)
    assert(io.catalog.currentVersion(t).get == 2, "the refused DELETE must not commit")
    assert(io.read(t).as[(Long, String)].collect().map(_._1).contains(7L),
      "the racer's commit is intact — the caller re-runs against it")
  }
}
