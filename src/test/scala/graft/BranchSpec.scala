package graft.io

import java.nio.file.Files

/** Branch refs (Iceberg branch semantics): isolation from main,
  * metadata-only fast-forward, divergence refusal, and GC liveness of
  * branch-only files.
  */
class BranchSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshIO(): TableIO =
    TableIO(spark, Files.createTempDirectory("graft_branch_spec_").toString)

  private def rows(from: Int, until: Int) =
    (from until until).map(i => (i.toLong, s"r$i")).toDF("id", "v")

  test("branch commits stay invisible to main; fast-forward integrates them metadata-only") {
    val io = freshIO()
    val t = "default.br"
    io.append(rows(0, 100), t)
    val v1 = io.catalog.currentVersion(t).get

    assert(io.createBranch(t, "audit") === 1)
    io.append(rows(100, 130), t, ref = Ref.Branch("audit"))
    io.append(rows(130, 150), t, ref = Ref.Branch("audit"))

    // main untouched by two branch commits
    assert(io.read(t).count() === 100)
    assert(io.catalog.currentVersion(t).get === v1)
    assert(io.read(t, Ref.Branch("audit")).count() === 150)
    assert(io.catalog.currentVersion(t, Ref.Branch("audit")) === Some(3))

    val before = io.catalog.listDataFiles(t).size
    val ff = io.fastForward(t, "audit")
    // metadata-only: no data file moved or rewritten
    assert(io.catalog.listDataFiles(t).size === before)
    assert(io.read(t).count() === 150)
    assert(io.read(t).select("id").as[Long].collect().sorted === (0L until 150L).toArray)
    // history preserved: the pre-ff snapshot still reads
    assert(io.readVersion(t, v1).count() === 100)
    assert(io.catalog.manifestProps(t, ff).get("fastForwardFrom") === Some("audit"))
  }

  test("fast-forward refuses a main that advanced past the fork point") {
    val io = freshIO()
    val t = "default.div"
    io.append(rows(0, 10), t)
    io.createBranch(t, "exp")
    io.append(rows(10, 20), t, ref = Ref.Branch("exp"))
    io.append(rows(20, 30), t) // main advances -> diverged
    val e = intercept[IllegalArgumentException](io.fastForward(t, "exp"))
    assert(e.getMessage.contains("diverged"))
    // both sides still readable, nothing lost
    assert(io.read(t).count() === 20)
    assert(io.read(t, Ref.Branch("exp")).count() === 20)
  }

  test("duplicate create and unknown-branch ops fail loudly; names are validated") {
    val io = freshIO()
    val t = "default.names"
    io.append(rows(0, 5), t)
    io.createBranch(t, "b1")
    intercept[IllegalArgumentException](io.createBranch(t, "b1"))
    intercept[IllegalArgumentException](io.read(t, Ref.Branch("nope")))
    intercept[IllegalArgumentException](io.append(rows(5, 6), t, ref = Ref.Branch("nope")))
    intercept[IllegalArgumentException](io.fastForward(t, "nope"))
    intercept[IllegalArgumentException](io.createBranch(t, "12345")) // numeric-ambiguous
    intercept[IllegalArgumentException](io.createBranch(t, "a/b"))   // not filename-safe
    assert(io.catalog.listBranches(t) === Seq("b1"))
  }

  test("branch names containing -v<digits> parse back correctly") {
    val io = freshIO()
    val t = "default.tricky"
    io.append(rows(0, 5), t)
    io.createBranch(t, "exp-v2")
    io.append(rows(5, 8), t, ref = Ref.Branch("exp-v2"))
    assert(io.catalog.listBranches(t) === Seq("exp-v2"))
    assert(io.catalog.currentVersion(t, Ref.Branch("exp-v2")) === Some(2))
    assert(io.read(t, Ref.Branch("exp-v2")).count() === 8)
  }

  test("GC keeps branch-only files live; dropBranch releases them") {
    val io = freshIO()
    val t = "default.gc"
    io.append(rows(0, 10), t)
    io.createBranch(t, "tmp")
    io.append(rows(10, 25), t, ref = Ref.Branch("tmp"))
    // age guard 0: everything unreferenced is deletable NOW — branch
    // files must survive because the branch manifest holds them live
    assert(io.catalog.removeOrphanFiles(t, olderThanMs = 0) === Seq.empty)
    assert(io.read(t, Ref.Branch("tmp")).count() === 25)

    assert(io.dropBranch(t, "tmp"))
    assert(!io.dropBranch(t, "tmp"))
    val deleted = io.catalog.removeOrphanFiles(t, olderThanMs = 0)
    assert(deleted.nonEmpty) // the branch-only files are reclaimed
    assert(io.read(t).count() === 10) // main untouched by the sweep
  }

  test("SQL surface: CALL create_branch/fast_forward/drop_branch and the .branches metadata table") {
    val wh = Files.createTempDirectory("graft_brsql_").toString
    spark.conf.set("spark.sql.catalog.gbr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbr.warehouse", wh)
    try {
      val io = TableIO(spark, wh)
      io.append(rows(0, 10), "default.t")
      val created = spark.sql("CALL gbr.system.create_branch('default.t', 'exp')").head()
      assert(created.getString(0) === "exp" && created.getInt(1) === 1 && created.getInt(2) === 1)
      io.append(rows(10, 20), "default.t", ref = Ref.Branch("exp"))

      val meta = spark.sql("SELECT branch, head_version, forked_at_version, n_files " +
        "FROM gbr.default.t.branches").head()
      assert(meta.getString(0) === "exp")
      assert(meta.getInt(1) === 2)
      assert(meta.getInt(2) === 1)
      assert(meta.getInt(3) > 0)

      val ff = spark.sql("CALL gbr.system.fast_forward('default.t', 'exp')").head()
      assert(ff.getInt(1) === 2) // new main version
      assert(io.read("default.t").count() === 20)

      val dropped = spark.sql("CALL gbr.system.drop_branch('default.t', 'exp')").head()
      assert(dropped.getBoolean(1))
      assert(spark.sql("SELECT * FROM gbr.default.t.branches").collect().isEmpty)

      // VERSION AS OF resolves branch names (Iceberg ref addressing):
      // read the branch head by name BEFORE integration
      io.append(rows(100, 110), "default.t2")
      io.createBranch("default.t2", "exp2")
      io.append(rows(110, 140), "default.t2", ref = Ref.Branch("exp2"))
      assert(spark.sql("SELECT * FROM gbr.default.t2 VERSION AS OF 'exp2'").count() === 40)
      assert(spark.sql("SELECT * FROM gbr.default.t2").count() === 10) // main untouched
      // a tag shadowing the SAME name as the branch wins (documented
      // precedence): 'exp2' now names both a tag (-> v1, 10 rows) and
      // a branch head (40 rows); resolution must pick the tag
      io.catalog.tagSnapshot("default.t2", "exp2", 1)
      assert(spark.sql("SELECT * FROM gbr.default.t2 VERSION AS OF 'exp2'").count() === 10)
      io.catalog.removeTag("default.t2", "exp2")
      assert(spark.sql("SELECT * FROM gbr.default.t2 VERSION AS OF 'exp2'").count() === 40)
      // unknown refs report not-found, not a filesystem error
      intercept[Exception](spark.sql("SELECT * FROM gbr.default.t2 VERSION AS OF 'nope'").collect())

      // branch-chain expiry through SQL: head retained, old pruned —
      // except the FORK RECORD (v1), pinned for the branch's lifetime
      // (fork id = stream-checkpoint identity, changelog baseline)
      io.append(rows(140, 150), "default.t2", ref = Ref.Branch("exp2"))
      val bexp = spark.sql("CALL gbr.system.expire_branch_snapshots('default.t2', 'exp2', 1)")
        .collect().map(_.getInt(0)).toSeq
      assert(bexp.nonEmpty && !bexp.contains(1))
      assert(io.catalog.versions("default.t2", Ref.Branch("exp2")).headOption.contains(1))
      assert(io.catalog.versions("default.t2", Ref.Branch("exp2")).size === 2)
      assert(spark.sql("SELECT * FROM gbr.default.t2 VERSION AS OF 'exp2'").count() === 50)
    } finally {
      spark.conf.unset("spark.sql.catalog.gbr")
      spark.conf.unset("spark.sql.catalog.gbr.warehouse")
    }
  }

  test("repeated audit+integrate cycles: fast-forward works again after main's only advance was this branch") {
    val io = freshIO()
    val t = "default.cycle"
    io.append(rows(0, 10), t)
    io.createBranch(t, "ingest")
    io.append(rows(10, 20), t, ref = Ref.Branch("ingest"))
    io.fastForward(t, "ingest")
    assert(io.read(t).count() === 20)
    // the long-lived ingest branch keeps taking batches...
    io.append(rows(20, 30), t, ref = Ref.Branch("ingest"))
    // ...and the SECOND integration must succeed: main advanced, but
    // only via fast-forwarding this very branch (its files are a
    // subset of the branch head's — the no-lost-update condition)
    io.fastForward(t, "ingest")
    assert(io.read(t).select("id").as[Long].collect().sorted === (0L until 30L).toArray)
    // a genuinely diverging main append still refuses
    io.append(rows(100, 105), t)
    io.append(rows(30, 35), t, ref = Ref.Branch("ingest"))
    val e = intercept[IllegalArgumentException](io.fastForward(t, "ingest"))
    assert(e.getMessage.contains("diverged"))
  }

  test("expireBranchSnapshots prunes the chain, retains the newest marked manifest, and GC respects survivors") {
    val io = freshIO()
    val t = "default.brexp"
    val propKey = TableCatalog.streamBatchProp(Some("exp-test"))
    io.append(rows(0, 10), t)
    io.createBranch(t, "ingest")
    // batch-marked appends (the branch appendStream shape), then
    // unmarked maintenance commits on top
    io.append(rows(10, 20), t, props = Map(propKey -> "0"), ref = Ref.Branch("ingest"))
    io.append(rows(20, 30), t, props = Map(propKey -> "1"), ref = Ref.Branch("ingest"))
    io.compact(t, targetFiles = 1, ref = Ref.Branch("ingest"))
    io.compact(t, targetFiles = 1, ref = Ref.Branch("ingest"))
    assert(io.catalog.versions(t, Ref.Branch("ingest")) === Seq(1, 2, 3, 4, 5))

    val expired = io.catalog.expireSnapshots(t, keepLast = 1, ref = Ref.Branch("ingest"))
    // v3 carries mark batchId=1 (the newest marked) -> retained even
    // though older than the keep window; v1 is the FORK RECORD —
    // pinned for the branch's lifetime (fork id = stream-checkpoint
    // identity; changelog fork-baseline default); only v2, v4 go
    assert(expired === Seq(2, 4))
    assert(io.catalog.versions(t, Ref.Branch("ingest")) === Seq(1, 3, 5))
    assert(io.catalog.streamBatchMark(t, propKey, Ref.Branch("ingest")) === Some(1L),
      "the replay guard must survive expiry")
    // the head still reads whole after GC reclaims the expired bytes
    io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
    assert(io.read(t, Ref.Branch("ingest")).select("id").as[Long].collect().sorted ===
      (0L until 30L).toArray)
    assert(io.read(t).count() === 10) // main untouched throughout
  }

  /** Expiry pins the newest marked manifest PER SINK key on every
    * ref: dropping another sink's newest mark would forfeit that sink's
    * exactly-once guard on its next crash replay.
    */
  private def perSinkExpiry(ref: Ref): Unit = {
    val io = freshIO()
    val t = "default.brexp2"
    val keyA = TableCatalog.streamBatchProp(Some("sinkA"))
    val keyB = TableCatalog.streamBatchProp(Some("sinkB"))
    io.append(rows(0, 5), t)
    ref match {
      case Ref.Branch(b) => io.createBranch(t, b) // v1: the fork record
      case Ref.Main => ()                         // v1: the first append
    }
    io.append(rows(5, 10), t, props = Map(keyA -> "5"), ref = ref)  // v2: sink A's newest
    io.append(rows(10, 15), t, props = Map(keyB -> "2"), ref = ref) // v3: sink B's newest
    io.compact(t, ref = ref)                                          // v4
    io.compact(t, ref = ref)                                          // v5 (head)
    val expired = io.catalog.expireSnapshots(t, keepLast = 1, ref = ref)
    // v2 AND v3 are pinned (each the newest mark of its sink); a
    // branch's v1 is the pinned fork record, main's v1 is plain history
    assert(expired === (if (ref == Ref.Main) Seq(1, 4) else Seq(4)))
    assert(io.catalog.streamBatchMark(t, keyA, ref) === Some(5L))
    assert(io.catalog.streamBatchMark(t, keyB, ref) === Some(2L))
  }

  test("branch expiry retains the newest marked manifest PER SINK key") {
    perSinkExpiry(Ref.Branch("b"))
  }

  test("main expiry retains the newest marked manifest PER SINK key") {
    perSinkExpiry(Ref.Main)
  }

  test("fast-forward refuses after a main rollback even though the file set shrank") {
    val io = freshIO()
    val t = "default.rbff"
    io.append(rows(0, 10), t)  // v1
    io.append(rows(10, 20), t) // v2
    io.createBranch(t, "b")    // forked at v2
    io.append(rows(20, 30), t, ref = Ref.Branch("b"))
    // operator purges v2's rows: main v3 = v1's files — a SUBSET of
    // the branch head's files, but NOT a fast-forward of this branch;
    // integrating would resurrect the purged rows
    io.catalog.rollbackTo(t, 1)
    val e = intercept[IllegalArgumentException](io.fastForward(t, "b"))
    assert(e.getMessage.contains("diverged"))
    assert(io.read(t).count() === 10, "rolled-back main must stay purged")
  }

  test("compactBranch preserves a Hive-partitioned branch layout") {
    val io = freshIO()
    val t = "default.brpart"
    def part(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"r$i", i % 3)).toDF("id", "v", "p")
    io.append(part(0, 12), t, Seq("p"))
    io.createBranch(t, "m")
    io.append(part(12, 24), t, partitionCols = Seq("p"), ref = Ref.Branch("m"))
    io.append(part(24, 36), t, partitionCols = Seq("p"), ref = Ref.Branch("m"))
    io.compact(t, ref = Ref.Branch("m"))
    // rewritten files keep the p=... layout: every file sits under a
    // partition dir, and the partition column reads back intact
    val head = io.catalog.currentVersion(t, Ref.Branch("m")).get
    val files = io.catalog.manifest(t, head, Ref.Branch("m"))
    assert(files.forall(_.contains("p=")), s"compacted files lost the layout: $files")
    assert(io.read(t, Ref.Branch("m")).groupBy("p").count().count() === 3)
    io.fastForward(t, "m")
    assert(io.read(t).select("id").as[Long].collect().sorted === (0L until 36L).toArray)
    // and main-side compact still sees ONE layout (no mixed-state)
    io.compact(t)
    assert(io.read(t).count() === 36)
  }

  test("compactBranch shrinks the branch file count, preserves rows, and survives the next integration") {
    val io = freshIO()
    val t = "default.brcompact"
    io.append(rows(0, 10), t)
    io.createBranch(t, "m")
    // several small appends -> several file sets on the branch
    (1 to 4).foreach(i => io.append(rows(i * 10, i * 10 + 10), t, ref = Ref.Branch("m")))
    val before = io.catalog.manifest(t, io.catalog.currentVersion(t, Ref.Branch("m")).get, Ref.Branch("m")).size
    io.compact(t, targetFiles = 1, ref = Ref.Branch("m"))
    val headAfter = io.catalog.currentVersion(t, Ref.Branch("m")).get
    val after = io.catalog.manifest(t, headAfter, Ref.Branch("m")).size
    assert(after === 1 && after < before, s"expected 1 file after compaction, had $before -> $after")
    assert(io.read(t, Ref.Branch("m")).select("id").as[Long].collect().sorted === (0L until 50L).toArray)
    // integration of the compacted branch works, and the rows survive
    io.fastForward(t, "m")
    assert(io.read(t).select("id").as[Long].collect().sorted === (0L until 50L).toArray)
    // second cycle: append + compact AFTER an integration — the rebase
    // record makes the fork check pass even though files were rewritten
    io.append(rows(50, 60), t, ref = Ref.Branch("m"))
    io.compact(t, targetFiles = 1, ref = Ref.Branch("m"))
    io.fastForward(t, "m")
    assert(io.read(t).select("id").as[Long].collect().sorted === (0L until 60L).toArray)
    // prior main versions still read their original (uncompacted) files
    assert(io.readVersion(t, 1).count() === 10)
  }

  test("branch commits are exclusive: a second writer to the same branch version fails loudly") {
    val io = freshIO()
    val t = "default.race"
    io.append(rows(0, 5), t)
    io.createBranch(t, "b")
    val head = io.catalog.currentVersion(t, Ref.Branch("b")).get
    val files = io.catalog.manifest(t, head, Ref.Branch("b"))
    // two racers computing the same next version: exactly one wins the
    // hard-link-exclusive create, the other gets the typed conflict
    io.catalog.commitSnapshotAt(t, files, head + 1, ref = Ref.Branch("b"))
    val e = intercept[ConcurrentCommitException](
      io.catalog.commitSnapshotAt(t, files, head + 1, ref = Ref.Branch("b")))
    assert(e.getMessage.contains("branch b"))
    assert(io.catalog.currentVersion(t, Ref.Branch("b")) === Some(head + 1))
  }

  test("fast-forwarded content is GC-safe after the branch is dropped") {
    val io = freshIO()
    val t = "default.ffgc"
    io.append(rows(0, 10), t)
    io.createBranch(t, "b")
    io.append(rows(10, 30), t, ref = Ref.Branch("b"))
    io.fastForward(t, "b")
    io.dropBranch(t, "b")
    // integrated files are referenced by the new main manifest
    assert(io.catalog.removeOrphanFiles(t, olderThanMs = 0) === Seq.empty)
    assert(io.read(t).count() === 30)
  }
}
