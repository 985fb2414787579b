package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `CALL system.vacuum` (r19 verdict item 6): the unified retention
  * sweep composing expire_snapshots -> branch expiry -> the
  * age-guarded orphan sweep in the one safe order. Proves that live
  * data across every reference kind (current snapshot, tag, branch
  * head, WAP stage) survives, that a crashed-write orphan and the
  * files an EXPIRED snapshot exclusively referenced die, and that the
  * result table attributes the reclaimed inventory.
  */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  test("vacuum: expire-then-sweep reclaims superseded + crashed files; every live ref survives") {
    val wh = Files.createTempDirectory("graft_vacwh_").toString
    spark.conf.set(s"spark.sql.catalog.gvac", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.gvac.warehouse", wh)
    val io = TableIO(spark, wh)
    val t = "default.vac"

    io.overwrite((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t) // v1
    // v2 REPLACES v1's file (compact rewrites) — v1's file becomes
    // reclaimable the moment v1 expires, but ONLY then
    io.compact(t) // v2
    io.catalog.tagSnapshot(t, "gold", 2)
    io.append((10L until 20L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1), t) // v3
    io.createBranch(t, "audit")
    io.append((100L until 105L).map(i => (i, s"br$i")).toDF("id", "s").coalesce(1),
      t, ref = Ref.Branch("audit"))
    io.append((20L until 25L).map(i => (i, s"c$i")).toDF("id", "s").coalesce(1), t) // v4

    // crashed-write orphan: a real parquet file no manifest references
    val orphan = Paths.get(io.catalog.dataPath(t), "part-orphan-crashed.snappy.parquet")
    Seq((999L, "orphan")).toDF("id", "s").coalesce(1).write.parquet(s"$wh/.tmp_vac_src")
    Files.list(Paths.get(s"$wh/.tmp_vac_src")).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) Files.copy(p, orphan)
    }
    assert(Files.exists(orphan))

    // v1's superseded file + the orphan must both be old enough for
    // the age guard; live files keep their fresh mtimes
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    val v1Files = io.catalog.manifest(t, 1)
    v1Files.foreach(f => Files.setLastModifiedTime(Paths.get(f), old))
    Files.setLastModifiedTime(orphan, old)

    val before = io.read(t).count()
    val report = spark.sql(s"CALL gvac.system.vacuum('$t', 2)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))

    // inventory: v1 and v2 are beyond keep_last=2 — but v2 is TAGGED
    // and survives; v1 expires; the superseded v1 file and the orphan
    // are reclaimed with bytes attributed
    assert(report.exists { case (a, ref, _) => a == "expired_snapshot" && ref == "v1" }, report.mkString("\n"))
    assert(!report.exists { case (a, ref, _) => a == "expired_snapshot" && ref == "v2" },
      "tagged snapshots must survive vacuum")
    val orphanRows = report.filter(_._1 == "orphan_file")
    assert(orphanRows.exists(_._2.endsWith("part-orphan-crashed.snappy.parquet")))
    assert(v1Files.forall(f => orphanRows.exists(_._2 == f)),
      s"v1's superseded file must be reclaimed AFTER its snapshot expired:\n${report.mkString("\n")}")
    assert(orphanRows.forall(_._3 > 0L), "reclaimed bytes must be attributed")
    assert(!Files.exists(orphan))
    v1Files.foreach(f => assert(!Files.exists(Paths.get(f)), s"$f should be swept"))

    // every live surface still reads
    assert(io.read(t).count() == before)
    assert(io.readVersion(t, 2).count() == 10) // tagged snapshot intact
    assert(io.read(t, Ref.Branch("audit")).count() == 25) // branch head intact
    assert(spark.sql(s"SELECT count(*) FROM gvac.$t VERSION AS OF 'gold'").head().getLong(0) == 10)

    // idempotent: a second vacuum finds nothing new
    val again = spark.sql(s"CALL gvac.system.vacuum('$t', 2)").collect()
    assert(again.isEmpty, again.mkString("\n"))
  }

  test("vacuum age guard: a young unreferenced file survives (commit-in-flight protection)") {
    val wh = Files.createTempDirectory("graft_vacwh2_").toString
    spark.conf.set(s"spark.sql.catalog.gvac2", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.gvac2.warehouse", wh)
    val io = TableIO(spark, wh)
    val t = "default.vac2"
    io.append(Seq((1L, "x")).toDF("id", "s"), t)
    val young = Paths.get(io.catalog.dataPath(t), "part-young-inflight.snappy.parquet")
    Files.writeString(young, "not yet committed")
    val report = spark.sql(s"CALL gvac2.system.vacuum('$t', 1)").collect()
    assert(Files.exists(young), "a fresh unreferenced file may be a commit in flight")
    assert(!report.exists(_.getString(1).contains("part-young-inflight")))
    // explicit zero retention reclaims it (the test/decommission path)
    val zero = spark.sql(s"CALL gvac2.system.vacuum('$t', 1, CAST(0 AS BIGINT))").collect()
    assert(!Files.exists(young))
    assert(zero.exists(_.getString(1).contains("part-young-inflight")))
  }
}
