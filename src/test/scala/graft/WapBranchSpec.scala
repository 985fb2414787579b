package graft

import java.nio.file.Files

import graft.io.{ConcurrentCommitException, GraftCatalog, Ref, TableIO}

/** Session write-audit-publish branch (Iceberg's `spark.wap.branch`):
  * with the conf set, every plain-identifier read/write in a
  * GraftCatalog lands on the branch — INSERT / UPDATE / DELETE /
  * MERGE commit branch snapshots (forking at main's current snapshot
  * on first write), main stays untouched until fast_forward
  * publishes, and DML branch commits keep the same pinned
  * same-version-racer guard as main commits.
  */
class WapBranchSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog(cat: String, wh: String)(body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private def withWap(branch: String)(body: => Unit): Unit = {
    spark.conf.set("spark.wap.branch", branch)
    try body finally spark.conf.unset("spark.wap.branch")
  }

  test("WAP session: INSERT forks the branch, UPDATE/DELETE/MERGE stay on it, fast_forward publishes") {
    val wh = Files.createTempDirectory("graft_wap_").toString
    val io = TableIO(spark, wh)
    val t = "default.accounts"
    io.append(Seq((1L, "a", 100L), (2L, "b", 200L), (3L, "c", 300L))
      .toDF("id", "owner", "balance"), t)
    val vMain = io.catalog.currentVersion(t).get

    withCatalog("gwap", wh) {
      withWap("audit") {
        // first write under the conf forks the branch at main's snapshot
        spark.sql("INSERT INTO gwap.default.accounts VALUES (4, 'd', 400)")
        assert(io.catalog.currentVersion(t, Ref.Branch("audit")) === Some(2)) // v1 fork + append
        assert(spark.table("gwap.default.accounts").count() === 4)

        // row-level DML commits ride the branch chain
        spark.sql("UPDATE gwap.default.accounts SET balance = balance + 5 WHERE id = 1")
        spark.sql("DELETE FROM gwap.default.accounts WHERE id = 2")
        Seq((3L, 33L), (5L, 555L)).toDF("id", "delta")
          .createOrReplaceTempView("wap_src")
        spark.sql(
          """MERGE INTO gwap.default.accounts t USING wap_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
            |WHEN NOT MATCHED THEN INSERT (id, owner, balance) VALUES (s.id, 'new', s.delta)
            |""".stripMargin)
        spark.catalog.dropTempView("wap_src")

        val audited = spark.sql(
          "SELECT id, balance FROM gwap.default.accounts ORDER BY id")
          .as[(Long, Long)].collect().toSeq
        assert(audited === Seq(1L -> 105L, 3L -> 333L, 4L -> 400L, 5L -> 555L))

        // main untouched by four branch commits
        assert(io.catalog.currentVersion(t) === Some(vMain))
        assert(io.read(t).count() === 3)

        // explicit time travel outranks the session branch
        assert(spark.sql(
          s"SELECT count(*) FROM gwap.default.accounts VERSION AS OF $vMain")
          .head().getLong(0) === 3)
      }

      // conf unset: plain reads see main again
      assert(spark.table("gwap.default.accounts").count() === 3)

      // publish: metadata-only fast-forward (DML commits carried the
      // fork-base prop, so the divergence check passes)
      spark.sql("CALL gwap.system.fast_forward('default.accounts', 'audit')")
      val published = spark.sql(
        "SELECT id, balance FROM gwap.default.accounts ORDER BY id")
        .as[(Long, Long)].collect().toSeq
      assert(published === Seq(1L -> 105L, 3L -> 333L, 4L -> 400L, 5L -> 555L))
      // pre-publish main still time-travels
      assert(io.readVersion(t, vMain).count() === 3)
    }
  }

  test("WAP on a partitioned table: INSERT and DELETE use the branch; main isolated") {
    val wh = Files.createTempDirectory("graft_wapp_").toString
    val io = TableIO(spark, wh)
    val t = "default.part_ev"
    io.append(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "day"), t,
      partitionCols = Seq("day"))

    withCatalog("gwapp", wh) {
      withWap("fix") {
        // the day partition dirs read back as DATE (partition-value
        // type inference), so the insert must supply a DATE literal
        spark.sql(
          "INSERT INTO gwapp.default.part_ev VALUES (CAST(3 AS BIGINT), DATE'2024-01-03')")
        // partitioned tables take the V1 SupportsDelete path
        spark.sql("DELETE FROM gwapp.default.part_ev WHERE id = 1")
        assert(spark.table("gwapp.default.part_ev").select("id")
          .as[Long].collect().sorted === Array(2L, 3L))
      }
      assert(io.read(t).count() === 2) // main: untouched
      assert(io.read(t, Ref.Branch("fix")).count() === 2)
      io.fastForward(t, "fix")
      assert(io.read(t).select("id").as[Long].collect().sorted === Array(2L, 3L))
    }
  }

  test("branch DML commits are pinned: a racer landing after the read loses loudly") {
    val wh = Files.createTempDirectory("graft_wapr_").toString
    val io = TableIO(spark, wh)
    val t = "default.race"
    io.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)
    io.createBranch(t, "b")
    val head = io.catalog.currentVersion(t, Ref.Branch("b")).get

    // a replacement planned against `head`...
    val planned = io.catalog.manifest(t, head, Ref.Branch("b"))
    // ...raced by an append that commits head+1 first
    io.append(Seq((3L, 30L)).toDF("id", "v"), t, ref = Ref.Branch("b"))

    val e = intercept[ConcurrentCommitException](
      io.commitReplacement(
        Seq((1L, 11L)).toDF("id", "v"), t,
        keepFiles = Seq.empty, partitionCols = Seq.empty, baseVersion = head, ref = Ref.Branch("b")))
    assert(e.getMessage.contains("branch b"))
    // the racer's rows survive — nothing lost
    assert(io.read(t, Ref.Branch("b")).count() === 3)
  }

  test("fork-at-commit: a row-level op as the FIRST branch write forks without deadlock") {
    val wh = Files.createTempDirectory("graft_wapf_").toString
    val io = TableIO(spark, wh)
    val t = "default.forkrow"
    io.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)
    val vMain = io.catalog.currentVersion(t).get

    withCatalog("gwapf", wh) {
      withWap("audit") {
        // branch absent: the UPDATE plans against main's manifest and
        // forks the branch INSIDE the commit, where the per-table
        // lock is already held — this MUST go through the lock-assumed
        // forkLocked path (a plain createBranch here parks
        // forever on the non-reentrant semaphore)
        spark.sql("UPDATE gwapf.default.forkrow SET v = v + 1 WHERE id = 1")
        assert(io.catalog.currentVersion(t, Ref.Branch("audit")).isDefined)
        assert(spark.table("gwapf.default.forkrow")
          .select("v").as[Long].collect().sorted === Array(11L, 20L))
      }
    }
    // main untouched by the forking DML
    assert(io.catalog.currentVersion(t) === Some(vMain))
    assert(io.read(t).select("v").as[Long].collect().sorted === Array(10L, 20L))
  }

  test("overwriteBranch replaces the branch head only; ensureBranch absorbs a duplicate create") {
    val wh = Files.createTempDirectory("graft_wapo_").toString
    val io = TableIO(spark, wh)
    val t = "default.ow"
    io.append(Seq((1L, "x")).toDF("id", "v"), t)

    // overwriteBranch on a nonexistent branch forks it first
    io.overwrite(Seq((9L, "z")).toDF("id", "v"), t, ref = Ref.Branch("scratch"))
    assert(io.read(t, Ref.Branch("scratch")).select("id").as[Long].head() === 9L)
    assert(io.read(t).select("id").as[Long].head() === 1L)

    // second overwrite advances the same branch
    io.overwrite(Seq((8L, "y")).toDF("id", "v"), t, ref = Ref.Branch("scratch"))
    assert(io.catalog.currentVersion(t, Ref.Branch("scratch")) === Some(3))
    assert(io.read(t, Ref.Branch("scratch")).select("id").as[Long].head() === 8L)
  }
}
