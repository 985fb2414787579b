package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.io.{GraftCatalog, Ref, TableIO}

/** Merge-on-read writes targeting a BRANCH chain (the WAP/audit flavor
  * of the zero-read CDC family): delete/upsert/CDC entries stack on
  * branch manifest props, branch reads (path API and SQL `VERSION AS
  * OF '<branch>'`) merge them, fast_forward publishes them to main
  * WITH the files, and every raw-manifest consumer of a dirty branch
  * refuses loudly. Main never observes a branch write until publish.
  */
class MorBranchSpec extends SparkSpec {
  import spark.implicits._

  private def newIO(prefix: String): (TableIO, String) = {
    val wh = Files.createTempDirectory(prefix).toString
    (TableIO(spark, wh), wh)
  }

  test("branch MOR delete + upsert: main untouched until fast_forward, which carries the pending entries") {
    val (io, wh) = newIO("graft_mbr_")
    val t = "default.audit"
    io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t)
    val vMain = io.catalog.currentVersion(t).get

    // zero-read CDC onto the branch (forks it at main's snapshot)
    val (bh1, nDel) = io.deleteWhereMOR(t, col("id") === 2L, ref = Ref.Branch("audit"))
    assert(nDel === 1L)
    val (bh2, _) = io.upsertMOR(t, Seq((3L, "c1"), (9L, "i")).toDF("id", "s"),
      Seq("id"), ref = Ref.Branch("audit"))
    assert(bh2 === bh1 + 1)

    // main: version, files, rows all untouched
    assert(io.catalog.currentVersion(t).contains(vMain))
    assert(io.catalog.pendingDeletes(t, vMain).isEmpty)
    assert(io.read(t).as[(Long, String)].collect().toSet ===
      Set(1L -> "a", 2L -> "b", 3L -> "c"))

    // branch reads merge: path API and the SQL bridge agree
    val expected = Set(1L -> "a", 3L -> "c1", 9L -> "i")
    assert(io.read(t, Ref.Branch("audit")).as[(Long, String)].collect().toSet === expected)
    spark.conf.set("spark.sql.catalog.gmb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmb.warehouse", wh)
    try {
      assert(spark.sql(s"SELECT id, s FROM gmb.$t VERSION AS OF 'audit'")
        .as[(Long, String)].collect().toSet === expected)

      // publish: the dirty head's files AND its pending entries land
      // on main in one metadata-only commit — no resurrect, and main's
      // applyDeletes materializes as usual
      io.fastForward(t, "audit")
      assert(io.read(t).as[(Long, String)].collect().toSet === expected)
      val vPub = io.catalog.currentVersion(t).get
      assert(io.catalog.pendingDeletes(t, vPub).nonEmpty,
        "publishing a dirty branch head must carry its delete entries to main")
      io.applyDeletes(t)
      assert(io.read(t).as[(Long, String)].collect().toSet === expected)
    } finally {
      spark.conf.unset("spark.sql.catalog.gmb")
      spark.conf.unset("spark.sql.catalog.gmb.warehouse")
    }
  }

  test("branch CDC apply with DELETE events; applyDeletesBranch cleans the head keeping the fork base") {
    val (io, _) = newIO("graft_mbc_")
    val t = "default.cdcb"
    io.append(Seq((1L, "a0"), (2L, "b0")).toDF("id", "s").coalesce(1), t)
    val b = Ref.Branch("cdc")
    io.cdcApplyMOR(t, Seq((1L, "a1", "U"), (2L, "x", "D"), (4L, "d1", "I"))
      .toDF("id", "s", "op"), Seq("id"), "op", ref = b)
    val expected = Set(1L -> "a1", 4L -> "d1")
    assert(io.read(t, Ref.Branch("cdc")).as[(Long, String)].collect().toSet === expected)
    assert(io.read(t).as[(Long, String)].collect().toSet === Set(1L -> "a0", 2L -> "b0"))

    val head = io.catalog.currentVersion(t, Ref.Branch("cdc")).get
    assert(io.catalog.pendingDeletes(t, head, Ref.Branch("cdc")).nonEmpty)
    val (applied, rewritten) = io.applyDeletes(t, ref = Ref.Branch("cdc"))
    assert(applied === head + 1 && rewritten > 0)
    assert(io.catalog.pendingDeletes(t, applied, Ref.Branch("cdc")).isEmpty)
    assert(io.read(t, Ref.Branch("cdc")).as[(Long, String)].collect().toSet === expected)
    // fork base survived the apply: publish still passes the check
    io.fastForward(t, "cdc")
    assert(io.read(t).as[(Long, String)].collect().toSet === expected)
  }

  test("raw consumers of a dirty branch refuse (SQL WAP DML, branch append carries); compactBranch materializes") {
    val (io, wh) = newIO("graft_mbg_")
    val t = "default.guardb"
    io.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1), t)
    io.deleteWhereMOR(t, col("id") === 2L, ref = Ref.Branch("wap"))

    spark.conf.set("spark.sql.catalog.gmg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmg.warehouse", wh)
    try {
      spark.conf.set("spark.wap.branch", "wap")
      def msg(x: Throwable): String = {
        def walk(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ walk(t.getCause)
        walk(x).mkString(" | ")
      }
      // COW UPDATE plans against raw branch files → refuse, naming the fix
      val eu = intercept[Exception](
        spark.sql(s"UPDATE gmg.$t SET v = 99 WHERE id = 1"))
      assert(msg(eu).contains("run compact or applyDeletes"), msg(eu))
      // V1 DELETE path (commitReplacement) refuses the same way
      val ed = intercept[Exception](
        spark.sql(s"DELETE FROM gmg.$t WHERE id = 1"))
      assert(msg(ed).contains("run compact or applyDeletes") || msg(ed).contains("pending"), msg(ed))
      // INSERT INTO under WAP appends to the branch and CARRIES entries
      spark.sql(s"INSERT INTO gmg.$t VALUES (7, 70)")
      assert(io.read(t, Ref.Branch("wap")).as[(Long, Long)].collect().toSet ===
        Set(1L -> 10L, 3L -> 30L, 7L -> 70L))
      spark.conf.unset("spark.wap.branch")

      // compact over the dirty branch head: merged rewrite, prop cleared
      val ch = io.compact(t, ref = Ref.Branch("wap"))
      assert(io.catalog.pendingDeletes(t, ch, Ref.Branch("wap")).isEmpty)
      assert(io.read(t, Ref.Branch("wap")).as[(Long, Long)].collect().toSet ===
        Set(1L -> 10L, 3L -> 30L, 7L -> 70L))
    } finally {
      spark.conf.unset("spark.wap.branch")
      spark.conf.unset("spark.sql.catalog.gmg")
      spark.conf.unset("spark.sql.catalog.gmg.warehouse")
    }
  }

  test("branch incremental/changelog: fork-baseline diffs, dirty ranges refuse, applyDeletes surfaces the DELETEs") {
    val (io, _) = newIO("graft_mbd_")
    val t = "default.auditlog"
    io.append(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
    io.createBranch(t, "b") // branch v1 = fork record
    io.append(Seq((2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("b")) // v2

    // "what landed on the branch since the fork"
    assert(io.readIncremental(t, 1, ref = Ref.Branch("b")).select("id").as[Long].collect().sorted ===
      Array(2L, 3L))
    val cl1 = io.readChangelog(t, 1, ref = Ref.Branch("b"))
    assert(cl1.filter(col("_change_type") === "INSERT").select("id")
      .as[Long].collect().sorted === Array(2L, 3L))
    assert(cl1.filter(col("_change_type") === "DELETE").count() === 0L)

    // a pending branch MOR delete in range: the INCREMENTAL reader
    // refuses loudly (a file diff cannot express a deletion as an
    // insert delta), while the CHANGELOG is MOR-aware (r16) and
    // reports exactly the killed row as a DELETE at v3
    io.deleteWhereMOR(t, col("id") === 3L, ref = Ref.Branch("b")) // v3, dirty
    val ei = intercept[IllegalStateException](io.readIncremental(t, 1, ref = Ref.Branch("b")).collect())
    assert(ei.getMessage.contains("applyDeletes"), ei.getMessage)
    val clDirty = io.readChangelog(t, 1, ref = Ref.Branch("b"))
      .select(col("_change_type"), col("_change_version"), col("id"))
      .as[(String, Int, Long)].collect().toSet
    assert(clDirty === Set(("INSERT", 2, 2L), ("INSERT", 2, 3L), ("DELETE", 3, 3L)))

    // applyDeletesBranch materializes; incremental ranges SPANNING the
    // dirty snapshot keep refusing (consumers restart from the applied
    // snapshot), ranges at or after it read clean — and the changelog
    // nets the materialization to ZERO (already reported at v3)
    io.applyDeletes(t, ref = Ref.Branch("b")) // v4
    val en = intercept[IllegalStateException](io.readIncremental(t, 1, ref = Ref.Branch("b")).collect())
    assert(en.getMessage.contains("applyDeletes"), en.getMessage)
    assert(io.readIncremental(t, 4, ref = Ref.Branch("b")).count() === 0L)
    assert(io.readChangelog(t, 3, ref = Ref.Branch("b")).count() === 0L)
    assert(io.read(t, Ref.Branch("b")).select("id").as[Long].collect().sorted ===
      Array(1L, 2L))

    // COW (file-diff-visible) delete on the clean branch head: the
    // changelog OBSERVES the row-level DELETE through the diff
    val head4 = io.catalog.currentVersion(t, Ref.Branch("b")).get
    io.commitReplacement(
      io.readFiles(t, io.catalog.manifest(t, head4, Ref.Branch("b"))).filter(col("id") =!= 2L),
      t, Seq.empty, Seq.empty, head4, ref = Ref.Branch("b")) // v5: full rewrite minus id=2
    val cl2 = io.readChangelog(t, 4, ref = Ref.Branch("b"))
    assert(cl2.filter(col("_change_type") === "DELETE").select("id")
      .as[Long].collect().sorted === Array(2L))
    assert(cl2.filter(col("_change_type") === "INSERT").count() === 0L)
  }

  test("CALL surface: mor_delete(..., branch) stacks on the branch; apply_deletes_branch materializes it") {
    val (io, wh) = newIO("graft_mbp_")
    val t = "default.procb"
    io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t)
    val vMain = io.catalog.currentVersion(t).get
    spark.conf.set("spark.sql.catalog.gmp2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmp2.warehouse", wh)
    try {
      val r = spark.sql(s"CALL gmp2.system.mor_delete('$t', 'id = 2', 'audit')")
        .as[(Int, Long)].head()
      assert(r._2 === 1L)
      assert(io.catalog.currentVersion(t).contains(vMain), "branch CALL advanced main")
      assert(io.read(t, Ref.Branch("audit")).as[(Long, String)].collect().toSet ===
        Set(1L -> "a", 3L -> "c"))
      // .branches surfaces the dirtiness before the apply...
      assert(spark.sql(
        s"SELECT pending_delete_entries FROM gmp2.$t.branches WHERE branch = 'audit'")
        .as[Int].head() === 1)
      val a = spark.sql(s"CALL gmp2.system.apply_deletes_branch('$t', 'audit')")
        .as[(Int, Long)].head()
      // ...and its clearance after
      assert(spark.sql(
        s"SELECT pending_delete_entries FROM gmp2.$t.branches WHERE branch = 'audit'")
        .as[Int].head() === 0)
      assert(a._2 > 0)
      assert(io.catalog.pendingDeletes(t, a._1, Ref.Branch("audit")).isEmpty)
      assert(io.read(t, Ref.Branch("audit")).as[(Long, String)].collect().toSet ===
        Set(1L -> "a", 3L -> "c"))
      // the two-arg form still binds (arity-bound optional branch)
      val m = spark.sql(s"CALL gmp2.system.mor_delete('$t', 'id = 1')")
        .as[(Int, Long)].head()
      assert(m._2 === 1L)
      assert(io.read(t).as[(Long, String)].collect().toSet ===
        Set(2L -> "b", 3L -> "c"))
    } finally {
      spark.conf.unset("spark.sql.catalog.gmp2")
      spark.conf.unset("spark.sql.catalog.gmp2.warehouse")
    }
  }

  test("streaming MOR batch to a branch: replay refused via the BRANCH mark; GC keeps branch delete files live") {
    import graft.streaming.TableSink
    val (io, _) = newIO("graft_mbs_")
    val t = "default.feedb"
    io.append(Seq((1L, "a0", 0L)).toDF("id", "s", "ts").coalesce(1), t)
    val b = Ref.Branch("ingest")
    assert(TableSink.commitUpsertMORBatch(io, t, 0L,
      Seq((1L, "a1", 1L), (5L, "e1", 1L)).toDF("id", "s", "ts"),
      Seq("id"), Seq("ts"), ref = b))
    // replay of batch 0 against the BRANCH refused (the mark rides
    // branch manifests, not main)
    assert(!TableSink.commitUpsertMORBatch(io, t, 0L,
      Seq((1L, "a1", 1L)).toDF("id", "s", "ts"), Seq("id"), Seq("ts"), ref = b))
    assert(io.catalog.streamBatchMark(t, graft.io.TableCatalog.streamBatchProp(None)).isEmpty)
    assert(io.read(t, Ref.Branch("ingest")).select("id", "s").as[(Long, String)].collect().toSet ===
      Set(1L -> "a1", 5L -> "e1"))

    // a zero-age orphan sweep must keep delete files referenced ONLY
    // by branch props
    val head = io.catalog.currentVersion(t, Ref.Branch("ingest")).get
    val delFiles = io.catalog.pendingDeletes(t, head, Ref.Branch("ingest")).map(_.deleteFile)
    assert(delFiles.nonEmpty && delFiles.forall(f => Files.exists(Paths.get(f))))
    io.catalog.removeOrphanFiles(t, olderThanMs = -1)
    assert(delFiles.forall(f => Files.exists(Paths.get(f))),
      "branch-referenced delete files must survive GC")
  }

  test("fast_forward of a dirty branch: publish-commit changelog NETS same-commit adds against their own kills") {
    val (io, _) = newIO("graft_mbn_")
    val t = "default.auditnet"
    io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t) // main v1
    val vMain = io.catalog.currentVersion(t).get
    io.createBranch(t, "audit")
    io.append(Seq((10L, "x"), (11L, "y")).toDF("id", "s").coalesce(1), t, ref = Ref.Branch("audit"))
    // the branch MOR delete scopes BOTH a base file and the
    // branch-appended file: (2,"b") pre-exists on main, (10,"x") was
    // added by the branch itself
    val (_, nDel) = io.deleteWhereMOR(t, col("id").isin(2L, 10L), ref = Ref.Branch("audit"))
    assert(nDel === 2L)

    // publish: ONE main commit that both ADDS the branch file and
    // carries entries scoping it — the ff-of-dirty-branch shape
    io.fastForward(t, "audit")
    val vPub = io.catalog.currentVersion(t).get
    assert(io.catalog.pendingDeletes(t, vPub).nonEmpty)

    // NET contract at the publish version: the surviving appended row
    // INSERTs, the killed BASE row DELETEs, and the appended-and-
    // killed row emits NOTHING — an INSERT/DELETE pair at equal
    // version would resurrect it under key-replay (INSERT wins ties)
    val step = io.readChangelog(t, fromVersion = vMain)
      .select(col("_change_type"), col("_change_version"), col("id"))
      .as[(String, Int, Long)].collect().toSet
    assert(step === Set(("INSERT", vPub, 11L), ("DELETE", vPub, 2L)),
      s"publish step must net same-commit add+kill, got $step")

    // key-replay of the FULL changelog reproduces the merged state
    io.applyDeletes(t)
    assert(io.readChangelog(t, fromVersion = vPub).count() === 0L,
      "applyDeletes must net to zero after the publish step")
    assert(io.read(t).select("id").as[Long].collect().sorted === Array(1L, 3L, 11L))
  }
}
