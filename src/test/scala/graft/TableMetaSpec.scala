package graft.io

import java.nio.file.Files

import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

/** Pins the table-layer metadata-compatibility and stream-replay-guard
  * behavior (the round-7 hardening): legacy sidecar fallback +
  * migration, key-vs-value JSON parsing, expire-retains-marked-manifest
  * (and its release escape hatch), the expiry-race skip, and
  * type-widening reads under a declared schema.
  */
class TableMetaSpec extends graft.SparkSpec {
  import spark.implicits._
  import TableCatalog.StreamBatchProp

  private def freshIO(): TableIO =
    TableIO(spark, Files.createTempDirectory("graft_meta_spec_").toString)

  test("legacy sidecar metadata is recovered; writeMeta migrates and removes the sidecars") {
    val io = freshIO()
    val t = "default.legacy"
    io.append(Seq((1L, "x", 2020)).toDF("id", "comment", "yr"), t, Seq("yr"))

    // pre-meta.json layout: one sidecar per field
    val meta = io.catalog.metaPath(t)
    val declared = new StructType().add("id", LongType).add("note", StringType).add("yr", org.apache.spark.sql.types.IntegerType)
    Files.writeString(meta.resolve("schema.json"), declared.json)
    Files.writeString(meta.resolve("pcols.json"), """{"cols": ["yr"]}""")
    Files.writeString(meta.resolve("renames.json"), """{"pairs": ["note", "comment"]}""")
    Files.writeString(meta.resolve("dropped.json"), """{"cols": ["old_col"]}""")
    Files.writeString(meta.resolve("stream_batch.txt"), "7\n")
    assert(!Files.exists(meta.resolve("meta.json")))

    // fallback read returns every legacy field
    val m = io.catalog.readMeta(t)
    assert(m.schemaJson.contains(declared.json))
    assert(m.partitionCols.contains(Seq("yr")))
    assert(m.renames == Map("note" -> "comment"))
    assert(m.dropped == Seq("old_col"))
    // and the renamed read path works off the legacy rename map
    assert(io.read(t).columns.toSeq == Seq("id", "note", "yr"))
    // stream mark falls back to the legacy sidecar (no props-marked manifest)
    assert(io.catalog.streamBatchMark(t).contains(7L))

    // migration: next writeMeta produces meta.json and deletes the
    // stale sidecars so they can never resurrect outdated state...
    io.catalog.writeMeta(t, m)
    assert(Files.exists(meta.resolve("meta.json")))
    Seq("schema.json", "pcols.json", "renames.json", "dropped.json").foreach { f =>
      assert(!Files.exists(meta.resolve(f)), s"stale sidecar $f survived migration")
    }
    // ...except stream_batch.txt — it is not a meta field, and it is
    // still the only record of the replay high-water mark
    assert(Files.exists(meta.resolve("stream_batch.txt")))
    assert(io.catalog.readMeta(t) == m)
    assert(io.catalog.streamBatchMark(t).contains(7L))
  }

  test("meta.json fields resolve by KEY — values colliding with key names cannot shadow them") {
    val io = freshIO()
    val t = "default.collide"
    io.append(Seq((1, "a")).toDF("k", "s"), t)
    // every value below is the name of some other meta key, and the
    // serialized field order (schema, pcols, renames, dropped) puts
    // several of them BEFORE the real key they collide with
    val meta = io.catalog.TableMeta(
      schemaJson = None,
      partitionCols = Some(Seq("dropped")),
      renames = Map("a" -> "schema", "dropped" -> "pcols"),
      dropped = Seq("renames"))
    io.catalog.writeMeta(t, meta)
    assert(io.catalog.readMeta(t) == meta)

    // a rename VALUE named "pcols" must not fake a declared partitioning
    val noPcols = io.catalog.TableMeta(renames = Map("x" -> "pcols"))
    io.catalog.writeMeta(t, noPcols)
    val back = io.catalog.readMeta(t)
    assert(back.partitionCols.isEmpty, s"value 'pcols' faked partitionCols: $back")
    assert(back.renames == Map("x" -> "pcols"))
  }

  test("an append to a table whose meta.json is corrupt refuses and adds no version") {
    val io = freshIO()
    val t = "default.corruptmeta"
    io.append(Seq((1L, "a")).toDF("id", "s"), t)
    io.setWriteSortOrder(t, Seq("id"))
    val before = io.versions(t)
    Files.writeString(io.catalog.metaPath(t).resolve("meta.json"), """{"sortOrder": [""")
    intercept[Exception](io.append(Seq((2L, "b")).toDF("id", "s"), t))
    assert(io.versions(t) == before, "a write under unreadable metadata committed")
    assert(io.catalog.listDataFiles(t).size == 1, "the refused append left a data file behind")
  }

  test("expireSnapshots retains the newest stream-marked manifest; releaseStreamMark forfeits the guard") {
    val io = freshIO()
    val t = "default.stream_guard"
    val b0 = Seq((1L, "a")).toDF("id", "s")
    assert(graft.streaming.TableSink.commitStreamBatch(io, t, 0L, b0)) // v1, marked "0"
    (1 to 3).foreach(i => io.append(Seq((10L + i, "z")).toDF("id", "s"), t)) // v2..v4

    // the marked manifest is older than the cutoff but survives
    assert(io.catalog.expireSnapshots(t, keepLast = 1) == Seq(2, 3))
    assert(io.versions(t) == Seq(1, 4))
    assert(io.catalog.streamBatchMark(t).contains(0L))
    // so a post-crash replay of batch 0 is still a no-op
    assert(!graft.streaming.TableSink.commitStreamBatch(io, t, 0L, b0))
    assert(io.read(t).count() == 4)

    // decommissioned-stream escape hatch: the pin is released, and with
    // it (documented) the replay guard
    assert(io.catalog.expireSnapshots(t, keepLast = 1, releaseStreamMark = true) == Seq(1))
    assert(io.versions(t) == Seq(4))
    assert(io.catalog.streamBatchMark(t).isEmpty)
    assert(graft.streaming.TableSink.commitStreamBatch(io, t, 0L, b0)) // guard forfeited
  }

  test("a manifest vanishing between listing and read is skipped, not thrown") {
    val io = freshIO()
    val t = "default.race"
    assert(graft.streaming.TableSink.commitStreamBatch(io, t, 5L, Seq((1L, "a")).toDF("id", "s"))) // v1, marked
    io.append(Seq((2L, "b")).toDF("id", "s"), t) // v2

    // simulate expiry racing the scan: the version is listed (the link
    // exists) but its content is gone by the time it is read
    val meta = io.catalog.metaPath(t)
    Files.createSymbolicLink(meta.resolve("v99.json"), meta.resolve("never-written.json"))
    assert(io.catalog.versions(t).contains(99))
    intercept[java.nio.file.NoSuchFileException](io.catalog.manifestProps(t, 99))

    // both scanners walk past the vanished manifest
    assert(io.catalog.streamBatchMark(t).contains(5L))
    assert(io.catalog.expireSnapshots(t, keepLast = 1) == Seq(2)) // v1 kept (marked), v99 newest
    assert(io.catalog.streamBatchMark(t).contains(5L))
    Files.delete(meta.resolve("v99.json"))
  }

  test("declared-schema reads widen drifted narrower file types (int->long, float->double)") {
    val io = freshIO()
    val t = "default.widen"
    val declared = new StructType()
      .add("id", LongType).add("v", DoubleType).add("s", StringType)
    io.catalog.writeMeta(t, io.catalog.TableMeta(schemaJson = Some(declared.json)))

    // month 1 drifted narrow (int32/float), month 2 matches the declaration
    io.append(Seq((1, 1.5f, "a")).toDF("id", "v", "s"), t)
    io.append(Seq((2L, 2.5d, "b")).toDF("id", "v", "s"), t)

    // mergeSchema would fail the footer merge here; the declared read widens
    val back = io.read(t)
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      Seq("id" -> LongType, "v" -> DoubleType, "s" -> StringType))
    assert(back.as[(Long, Double, String)].collect().toSet ==
      Set((1L, 1.5d, "a"), (2L, 2.5d, "b")))

    // both snapshots stay readable, each under the declared types
    assert(io.readVersion(t, 1).as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 1.5d, "a")))

    // an empty declared table reads back its declared schema, not an
    // empty dataframe with no columns
    val t2 = "default.widen_empty"
    io.catalog.writeMeta(t2, io.catalog.TableMeta(schemaJson = Some(declared.json)))
    io.catalog.commitSnapshot(t2, Seq.empty)
    val empty = io.read(t2)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v", "s"))
  }

  test("readIncremental returns exactly the rows appended in the range") {
    val io = freshIO()
    val t = "default.inc"
    io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    io.append(Seq((3L, "c")).toDF("id", "s"), t)            // v2
    io.append(Seq((4L, "d"), (5L, "e")).toDF("id", "s"), t) // v3

    // (v1, v3] = the two later appends; (v2, v3] = only the last
    assert(io.readIncremental(t, 1).as[(Long, String)].collect().toSet ==
      Set((3L, "c"), (4L, "d"), (5L, "e")))
    assert(io.readIncremental(t, 2).as[(Long, String)].collect().toSet ==
      Set((4L, "d"), (5L, "e")))
    // bounded upper end
    assert(io.readIncremental(t, 1, Some(2)).as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    // empty range = zero rows, table schema intact
    val none = io.readIncremental(t, 3)
    assert(none.count() == 0)
    assert(none.schema.fieldNames.toSeq == Seq("id", "s"))

    // the scan reads EXACTLY the delta files — consumer cost scales
    // with the appended data, never the table
    val v2Files = io.catalog.manifest(t, 2).toSet
    val scanned = io.readIncremental(t, 2).inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f)).toString).toSet
    assert(scanned.nonEmpty && scanned.intersect(v2Files).isEmpty,
      s"delta scan touched pre-range files: ${scanned.intersect(v2Files)}")
  }

  test("DML releases the write mutex exactly once on both commit and abort; later writes proceed") {
    val wh = Files.createTempDirectory("graft_dmlrace_").toString
    spark.conf.set("spark.sql.catalog.gdr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdr.warehouse", wh)
    try {
      val io = TableIO(spark, wh)
      val t = "default.dmlrace"
      io.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), t) // v1
      def permits = TableIO.writeLock(io.catalog.pathOf(t)).availablePermits()
      // successful DML: the commit callback releases the mutex once
      spark.sql("DELETE FROM gdr.default.dmlrace WHERE id = 2")
      assert(io.read(t).count() == 1)
      assert(permits == 1, s"permit count after successful DML: $permits")
      // failing DML: a per-row runtime error fails the write job, so
      // Spark runs the ABORT callback — the mutex must come back with
      // EXACTLY one permit (not zero = deadlock, not two = broken
      // mutual exclusion; commit-throw + abort both firing is the
      // double-release hazard releaseOnce guards)
      intercept[Exception](
        spark.sql("DELETE FROM gdr.default.dmlrace WHERE raise_error('boom') IS NULL"))
      assert(io.read(t).count() == 1, "failed DML must not change the table")
      assert(permits == 1, s"permit count after aborted DML: $permits")
      io.append(Seq((3L, 30.0)).toDF("id", "v"), t) // must not deadlock
      assert(io.read(t).count() == 2)
    } finally {
      spark.conf.unset("spark.sql.catalog.gdr")
      spark.conf.unset("spark.sql.catalog.gdr.warehouse")
    }
  }

  test("orphan sweep reclaims aged staging dirs but never one with recent writes inside") {
    val io = freshIO()
    val t = "default.stage_gc"
    io.append(Seq((1L, "a")).toDF("id", "s"), t)
    val root = java.nio.file.Paths.get(io.catalog.pathOf(t))
    val old = java.time.Instant.now().minusSeconds(48 * 3600)
    // a writer that died two days ago: whole tree old -> reclaimed
    val dead = Files.createDirectory(root.resolve(".stage-dead"))
    Files.writeString(dead.resolve("part-0.parquet"), "x")
    Files.walk(dead).forEach(p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.from(old)))
    // a LONG-RUNNING writer: staging dir itself is old (mtime set at
    // job start) but a task wrote inside it just now -> must survive
    val live = Files.createDirectory(root.resolve(".stage-live"))
    val tmp = Files.createDirectory(live.resolve("_temporary"))
    Files.writeString(tmp.resolve("attempt-0.parquet"), "y")
    Files.setLastModifiedTime(live, java.nio.file.attribute.FileTime.from(old))
    io.catalog.removeOrphanFiles(t)
    assert(!Files.exists(dead), "aged dead staging dir must be reclaimed")
    assert(Files.exists(tmp.resolve("attempt-0.parquet")),
      "staging with recent writes inside was swept mid-write")
    // the committed table is untouched throughout
    assert(io.read(t).count() == 1)
  }

  test("manifests are sets: a double-listed path commits once and reads once") {
    val io = freshIO()
    val t = "default.setsem"
    io.append(Seq((1L, "a")).toDF("id", "s"), t)
    val files = io.catalog.manifest(t, 1)
    // an optimistic retry re-basing on a manifest that already absorbed
    // this writer's files would otherwise double-list them
    io.catalog.commitSnapshot(t, files ++ files)
    assert(io.catalog.manifest(t, 2).size == files.size, "duplicate manifest entries survived")
    assert(io.read(t).count() == 1L, "double-listed file scanned twice")
  }

  test("rowCount answers from manifest stats; legacy stats-less manifests fall back to footers") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.rc"
    io.append(spark.range(0, 123).toDF("id"), t)
    io.append(spark.range(200, 260).toDF("id"), t)
    assert(io.rowCount(t) == 183L)
    io.deleteWhere(t, col("id") >= 250L)
    assert(io.rowCount(t) == io.read(t).count(), "rowCount must track row-level deletes")
    // legacy manifest: same files committed WITHOUT stats — the footer
    // fallback must still produce the exact count
    val files = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    io.catalog.commitSnapshot(t, files)
    assert(io.catalog.manifestStats(t, io.catalog.currentVersion(t).get).isEmpty,
      "fixture must exercise the stats-less path")
    assert(io.rowCount(t) == 173L)
  }

  test("readChangelog emits net INSERT/DELETE rows across appends, deletes and updates") {
    import org.apache.spark.sql.functions.{col, lit}
    val io = freshIO()
    val t = "default.cdc"
    io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t) // v1: insert x3
    io.deleteWhere(t, col("id") === 2L)                                // v2: delete (2,b)
    io.updateWhere(t, col("id") === 3L, Map("s" -> lit("C")))          // v3: (3,c) -> (3,C)

    val rows = io.readChangelog(t)
      .as[(Long, String, String, Int)].collect().toSet
    assert(rows == Set(
      (1L, "a", "INSERT", 1), (2L, "b", "INSERT", 1), (3L, "c", "INSERT", 1),
      (2L, "b", "DELETE", 2),
      (3L, "c", "DELETE", 3), (3L, "C", "INSERT", 3)),
      s"unexpected changelog: $rows")

    // carried-over rows cancel: v2's rewrite re-wrote (1,a)/(3,c) into
    // new files, yet neither appears at version 2
    assert(!rows.contains((1L, "a", "DELETE", 2)) && !rows.contains((1L, "a", "INSERT", 2)))

    // bounded range: only v3's net change
    assert(io.readChangelog(t, fromVersion = 2).as[(Long, String, String, Int)]
      .collect().toSet == Set((3L, "c", "DELETE", 3), (3L, "C", "INSERT", 3)))
  }

  test("readChangelog aligns drifted schema-on-read columns by NAME across versions") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.cdc_drift"
    // schema-on-read table whose file schemas drift between versions:
    // v1 files carry (id, s), v2 files carry (id, s, extra) — a
    // positional union of the per-step frames would misalign (or
    // throw); the step union must match columns by name, null-filling
    // the column v1 never had
    io.append(Seq((1L, "a")).toDF("id", "s"), t)                  // v1
    io.append(Seq((2L, "b", 20)).toDF("id", "s", "extra"), t)     // v2 drifted
    val rows = io.readChangelog(t)
      .select("id", "s", "extra", "_change_type", "_change_version")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getInt(2).asInstanceOf[Any], r.getString(3), r.getInt(4))).toSet
    assert(rows == Set(
      (1L, "a", null, "INSERT", 1),
      (2L, "b", 20, "INSERT", 2)),
      s"unexpected drifted changelog: $rows")
    // a rewrite step (added AND removed files in one version) on the
    // same drifted table: exceptAll pairs must align by name too
    io.deleteWhere(t, col("id") === 1L)                           // v3 rewrite
    val step3 = io.readChangelog(t, fromVersion = 2)
      .select("id", "_change_type", "_change_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(step3 == Set((1L, "DELETE", 3)), s"unexpected v3 step: $step3")
  }

  test("readChangelog: compaction nets to zero rows; expired history rejects loudly") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.cdc2"
    io.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    io.append(Seq((2L, "b")).toDF("id", "s"), t) // v2
    io.compact(t)                                // v3: same rows, new files
    assert(io.readChangelog(t, fromVersion = 2).count() == 0,
      "a pure compaction must produce no net changes")
    // the empty result still carries the changelog schema
    assert(io.readChangelog(t, fromVersion = 3).schema.fieldNames.toSeq ==
      Seq("id", "s", "_change_type", "_change_version"))

    io.catalog.expireSnapshots(t, keepLast = 1)
    val e = intercept[IllegalStateException](io.readChangelog(t).collect())
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("concurrent appends serialize per table and lose no rows or snapshots") {
    val io = freshIO()
    val t = "default.race"
    val nWriters = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nWriters).map { i =>
      new Thread(() => {
        try io.append(Seq((i.toLong, s"writer$i")).toDF("id", "s"), t)
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"append failed: ${Option(errors.peek()).map(_.toString)}")

    // every writer committed exactly one snapshot; no rows duplicated
    // or lost; each manifest strictly extends an earlier one
    assert(io.versions(t) == (1 to nWriters))
    assert(io.read(t).as[(Long, String)].collect().toSet ==
      (0 until nWriters).map(i => i.toLong -> s"writer$i").toSet)
    val manifests = (1 to nWriters).map(v => io.catalog.manifest(t, v).toSet)
    manifests.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later manifest dropped an earlier append's files")
    }
    // no file is claimed as NEW by two snapshots (the interleaved-
    // listing-diff hazard the per-table write lock exists to prevent)
    val claimed = manifests.zipWithIndex.map { case (m, i) =>
      if (i == 0) m else m.diff(manifests(i - 1))
    }
    assert(claimed.map(_.size).sum == manifests.last.size,
      "a data file was committed as new by more than one snapshot")
  }

  test("appends stack on top of externally-committed snapshots; the version race is loud") {
    val io = freshIO()
    val t = "default.optim"
    io.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    // an EXTERNAL writer (another process — outside this JVM's write
    // lock) claims v2; our next append must base itself on v2 and land
    // as v3, preserving the interloper's snapshot
    io.catalog.commitSnapshotAt(t, io.catalog.manifest(t, 1), 2)
    io.append(Seq((2L, "b")).toDF("id", "s"), t)
    assert(io.versions(t) == Seq(1, 2, 3))
    assert(io.read(t).as[(Long, String)].collect().toSet == Set(1L -> "a", 2L -> "b"))
    // the raced commit itself stays loud (the retry loop's trigger):
    // exactly one writer can create a given version file
    intercept[graft.io.ConcurrentCommitException] {
      io.catalog.commitSnapshotAt(t, io.catalog.manifest(t, 3), 3)
    }
  }

  test("a read-merge-overwrite reruns over a racer's commit: never a lost update") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.pinned"
    io.overwrite(Seq((1L, 10L)).toDF("k", "cnt"), t) // v1
    // the racer's state file, written under the table but not committed
    val racerFiles =
      io.catalog.stagedManifest(t, io.appendStaged(Seq((1L, 25L)).toDF("k", "cnt"), t))
    // our merge adds 17 to the state it reads; a racer (another process,
    // outside this JVM's write lock) lands its state between our read
    // and our commit — the pinned commit must lose, and the merge rerun
    // against the racer's state instead of silently clobbering it
    val bases = scala.collection.mutable.Buffer.empty[Int]
    io.commitRebuilt(t, Ref.Main, Map.empty) { base =>
      bases += base
      val state = io.readVersion(t, base)
      if (bases.size == 1) io.catalog.commitSnapshotAt(t, racerFiles, base + 1) // racer: v2
      Some((Seq.empty, state.select(col("k"), (col("cnt") + 17L).as("cnt"))))
    }
    assert(bases == Seq(1, 2), "the lost commit must rerun at the racer's head")
    assert(io.read(t).as[(Long, Long)].collect().toSeq == Seq(1L -> 42L),
      "the racer's state survives, with our merge folded in")
  }

  test("commits persist per-file column stats in the manifest; reads prune from them without footers") {
    val io = freshIO()
    val t = "default.stats"
    io.append(Seq((1, 1.5d, "aa"), (2, 2.5d, "bb")).toDF("k", "v", "s").coalesce(1), t)
    io.append(Seq((100, 9.5d, "zz")).toDF("k", "v", "s").coalesce(1), t)

    // v2 carries stats for BOTH files: the new one read at commit, the
    // surviving one carried forward from v1 (no footer re-read)
    val stats = io.catalog.manifestStats(t, 2)
    val files = io.catalog.manifest(t, 2)
    assert(stats.keySet == files.toSet, s"stats cover ${stats.keySet}, files $files")
    val lowFile = files.find(f => stats(f)("k").min.asInstanceOf[Number].longValue == 1L).get
    assert(stats(lowFile)("k").max.asInstanceOf[Number].longValue == 2L)
    assert(stats(lowFile)("v").min.asInstanceOf[Number].doubleValue == 1.5d)
    assert(stats(lowFile)("s").nullCount == 0L)

    // THE point: plan-time pruning consults the MANIFEST, not the
    // current footer. Swap the low file's bytes for content in a
    // completely different range; a predicate inside the new range but
    // outside the manifest-recorded one still prunes the file (footer
    // never opened — it would contradict the decision).
    val swap = Files.createTempDirectory("graft_swap_").resolve("out")
    Seq((150, 0.0d, "xx")).toDF("k", "v", "s").coalesce(1).write.parquet(swap.toString)
    val replacement = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(swap).iterator()).asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val lowPath = java.nio.file.Paths.get(lowFile)
    Files.copy(replacement, lowPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the hadoop local FS checksum sidecar belongs to the old bytes
    Files.deleteIfExists(lowPath.resolveSibling("." + lowPath.getFileName + ".crc"))

    spark.conf.set("spark.sql.catalog.gst", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gst.warehouse", io.catalog.warehouse)
    try {
      // k=150 exists ONLY in the swapped bytes; manifest says [1,2] —
      // the file is pruned, proving stats came from the manifest
      assert(spark.sql("SELECT * FROM gst.default.stats WHERE k = 150").count() == 0L)
      // k=100 is in the untouched file's recorded range — still found
      assert(spark.sql("SELECT s FROM gst.default.stats WHERE k = 100")
        .as[String].head() == "zz")
    } finally {
      spark.conf.unset("spark.sql.catalog.gst")
      spark.conf.unset("spark.sql.catalog.gst.warehouse")
    }
  }

  test("pre-stats manifests fall back to footer reads for pruning") {
    val io = freshIO()
    val t = "default.nostats"
    io.append(Seq((1, "a")).toDF("k", "s").coalesce(1), t)
    io.append(Seq((100, "z")).toDF("k", "s").coalesce(1), t)
    // strip the stats from the newest manifest (legacy layout):
    // decode, drop, encode
    val meta = io.catalog.metaPath(t)
    val v = io.versions(t).last
    val doc = Codec.read[Codec.Manifest](meta.resolve(s"v$v.json"))
    assert(doc.colstats.nonEmpty, "fixture must start with stats")
    Files.write(meta.resolve(s"v$v.json"), Codec.encode(doc.copy(colstats = Seq.empty)))
    assert(io.catalog.manifestStats(t, v).isEmpty)

    spark.conf.set("spark.sql.catalog.gns", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gns.warehouse", io.catalog.warehouse)
    try {
      val df = spark.sql("SELECT * FROM gns.default.nostats WHERE k = 100")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val scanned = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findFirstMatchIn(p).map(_.group(1).toInt).getOrElse(fail(s"no file index:\n$p"))
      assert(scanned == 1, s"footer fallback should still prune: scanned $scanned/2")
      assert(df.count() == 1L)
    } finally {
      spark.conf.unset("spark.sql.catalog.gns")
      spark.conf.unset("spark.sql.catalog.gns.warehouse")
    }
  }

  test("rollbackTo restores an earlier snapshot as a NEW version; history intact") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.rb"
    io.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1 good
    io.append(Seq((3L, "c")).toDF("id", "s"), t)            // v2 bad
    val cur = io.catalog.rollbackTo(t, 1)
    assert(cur == 3, "rollback commits a NEW version, never rewrites history")
    assert(io.read(t).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the bad snapshot is still audit-readable
    assert(io.readVersion(t, 2).count() == 3)
    // metadata-only: the restored manifest lists v1's files verbatim
    assert(io.catalog.manifest(t, 3).toSet == io.catalog.manifest(t, 1).toSet)
    // stats carried forward (no footer re-read needed for pruning)
    assert(io.catalog.manifestStats(t, 3).nonEmpty)
    // roll FORWARD again to the pre-rollback state
    io.catalog.rollbackTo(t, 2)
    assert(io.read(t).count() == 3)
    // unknown / expired target rejects loudly
    val e = intercept[IllegalArgumentException](io.catalog.rollbackTo(t, 99))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("write-audit-publish: staged rows invisible until publish; discard + GC reclaims") {
    import org.apache.spark.sql.functions.col
    val io = freshIO()
    val t = "default.wap"
    io.overwrite(Seq((1L, "a")).toDF("id", "s"), t) // v1 published base
    val sid = io.appendStaged(Seq((2L, "b"), (3L, "c")).toDF("id", "s"), t)
    // invisible to the public read; complete in the audit view
    assert(io.read(t).select("id").as[Long].collect().toSeq == Seq(1L))
    assert(io.readStaged(t, sid).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(io.catalog.currentVersion(t).contains(1), "staging must not advance the version")
    // staged bytes survive GC while the staged manifest exists
    assert(io.catalog.removeOrphanFiles(t, olderThanMs = 0).isEmpty,
      "GC reclaimed staged (pre-publish) files")
    // a concurrent append between stage and publish is not lost
    io.append(Seq((9L, "z")).toDF("id", "s"), t) // v2
    val v = io.publishStaged(t, sid)
    assert(v == 3)
    assert(io.read(t).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 9L))
    // publish carried the staged files' stats into the manifest
    assert(io.catalog.manifestStats(t, v).nonEmpty)
    // the staged manifest is consumed: double publish rejects loudly
    val e = intercept[IllegalArgumentException](io.publishStaged(t, sid))
    assert(e.getMessage.contains("does not exist"), e.getMessage)

    // discard path: bytes reclaimed only after the manifest drops
    val sid2 = io.appendStaged(Seq((4L, "d")).toDF("id", "s"), t)
    val nFiles = io.catalog.listDataFiles(t).size
    assert(io.discardStaged(t, sid2))
    val reclaimed = io.catalog.removeOrphanFiles(t, olderThanMs = 0)
    assert(reclaimed.nonEmpty, "discarded staged files must be GC-reclaimable")
    assert(io.catalog.listDataFiles(t).size == nFiles - reclaimed.size)
    assert(io.read(t).count() == 4, "discard+GC must not touch published rows")
  }

  test("snapshot tags: named time travel, GC retention, release on removeTag") {
    val io = freshIO()
    val t = "default.tagged"
    io.append(Seq((1L, "a")).toDF("id", "s"), t)  // v1
    io.append(Seq((2L, "b")).toDF("id", "s"), t)  // v2
    io.catalog.tagSnapshot(t, "train-run-47", 1)
    io.append(Seq((3L, "c")).toDF("id", "s"), t)  // v3

    // named read sees the tagged snapshot, not the head
    assert(io.readTag(t, "train-run-47").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(intercept[IllegalArgumentException](io.readTag(t, "nope"))
      .getMessage.contains("no such tag"))
    // tagging a nonexistent version fails loudly
    intercept[IllegalArgumentException](io.catalog.tagSnapshot(t, "x", 99))
    // all-digit tags are rejected: SQL VERSION AS OF would resolve
    // them as version numbers and the two surfaces would disagree
    intercept[IllegalArgumentException](io.catalog.tagSnapshot(t, "7", 1))

    // SQL: VERSION AS OF '<tag>' resolves through the tag map, and the
    // tag procedures drive the lifecycle
    spark.conf.set("spark.sql.catalog.gtag", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtag.warehouse", io.catalog.warehouse)
    try {
      assert(spark.sql("SELECT id FROM gtag.default.tagged VERSION AS OF 'train-run-47'")
        .as[Long].collect().toSeq == Seq(1L))
      spark.sql("CALL gtag.system.tag_snapshot('default.tagged', 'head2', 2)")
      assert(spark.sql("SELECT count(*) c FROM gtag.default.tagged VERSION AS OF 'head2'")
        .head().getLong(0) == 2L)
      // the .tags metadata table lists the refs
      assert(spark.sql("SELECT tag, version FROM gtag.default.tagged.tags ORDER BY tag")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq ==
        Seq("head2" -> 2, "train-run-47" -> 1))

      // GC: tagged manifests are never expired, their files never orphaned
      assert(io.catalog.expireSnapshots(t, keepLast = 1) == Seq.empty) // v1, v2 both tagged
      spark.sql("CALL gtag.system.remove_tag('default.tagged', 'head2')")
      assert(io.catalog.expireSnapshots(t, keepLast = 1) == Seq(2))    // v2 released
      io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
      // the still-tagged v1 remains fully readable after GC
      assert(io.readTag(t, "train-run-47").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
      assert(io.read(t).count() == 3)
    } finally {
      spark.conf.unset("spark.sql.catalog.gtag")
      spark.conf.unset("spark.sql.catalog.gtag.warehouse")
    }
  }

  test("readIncremental rejects non-append ranges and unverifiable (expired) ranges") {
    val io = freshIO()
    val t = "default.inc_rw"
    io.append(Seq((1L, "a")).toDF("id", "s"), t)    // v1
    io.append(Seq((2L, "b")).toDF("id", "s"), t)    // v2
    io.overwrite(Seq((9L, "z")).toDF("id", "s"), t) // v3 removes files

    // a range containing the overwrite answers loudly, not wrong
    val e = intercept[IllegalStateException](io.readIncremental(t, 1))
    assert(e.getMessage.contains("append-only"), e.getMessage)
    // a range strictly before the overwrite still works
    assert(io.readIncremental(t, 1, Some(2)).as[(Long, String)].collect().toSet ==
      Set((2L, "b")))
    // post-overwrite appends are incremental again
    io.append(Seq((10L, "y")).toDF("id", "s"), t)   // v4
    assert(io.readIncremental(t, 3).as[(Long, String)].collect().toSet ==
      Set((10L, "y")))

    // an expired manifest INSIDE the range makes append-only unprovable
    io.append(Seq((11L, "x")).toDF("id", "s"), t)   // v5
    Files.delete(io.catalog.metaPath(t).resolve("v4.json"))
    val e2 = intercept[IllegalStateException](io.readIncremental(t, 3))
    assert(e2.getMessage.contains("expired"), e2.getMessage)
  }

  test(".partitions profiles the snapshot per Hive partition from manifest stats") {
    val io = freshIO()
    val t = "default.pmeta"
    val df = (0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "bucket")
    io.append(df.repartition(org.apache.spark.sql.functions.col("bucket")), t, Seq("bucket"))
    val cat = io.catalog
    def partRows(c: TableCatalog, name: String) =
      MetadataTables.load(c, name, "partitions")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
        .build().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows()
    val rows = partRows(cat, t)
    val byPart = rows.map(r => (r.getUTF8String(0).toString,
      (r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byPart.keySet == Set("bucket=0", "bucket=1", "bucket=2"))
    byPart.values.foreach { case (nFiles, bytes, rowCount) =>
      assert(nFiles >= 1 && bytes > 0L && rowCount == 100L)
    }
    // unpartitioned files group under the empty partition
    val io2 = freshIO()
    io2.append(df, "default.flat")
    val flat = partRows(io2.catalog, "default.flat")
    assert(flat.length == 1 && flat(0).getUTF8String(0).toString == "")
    assert(flat(0).getLong(3) == 300L)
  }

  test(".column_stats profiles columns from manifest stats; bloom coverage and partial-stats drop") {
    val io = freshIO()
    val t = "default.cstats"
    io.append(Seq((1L, 2.5, "a"), (2L, 3.5, "b"), (3L, 0.5, null.asInstanceOf[String]))
      .toDF("k", "v", "s"), t)
    def rows(name: String) = MetadataTables.load(io.catalog, name, "column_stats")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .build().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows()
    val byCol = rows(t).map(r => r.getUTF8String(0).toString ->
      (Option(r.get(1, org.apache.spark.sql.types.DoubleType)).map(_.asInstanceOf[Double]),
       r.getLong(3), r.getLong(4), r.getBoolean(6))).toMap
    assert(byCol("k") == ((Some(1.0), 0L, 3L, false)))
    assert(byCol("v")._1 == Some(0.5) && byCol("v")._2 == 0L)
    assert(byCol("s")._1.isEmpty && byCol("s")._2 == 1L, "string null count from footer stats")
    // bloom coverage flips after indexing
    io.addBloomIndex(t, "k")
    assert(rows(t).find(_.getUTF8String(0).toString == "k").get.getBoolean(6))
    // a file without manifest stats suppresses the whole profile
    // (partial coverage would silently under-count)
    val v = io.versions(t).last
    val files = io.catalog.manifest(t, v)
    io.catalog.commitSnapshot(t, files, Map.empty, Map.empty) // stats-less manifest
    assert(rows(t).isEmpty)
  }
}
