package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL UPDATE / MERGE INTO on PARTITIONED tables (r19 — previously
  * DELETE-only): the copy-on-write rewrite's replacement takes a
  * layout hop so every row lands under its Hive/hidden-layout
  * directory, rows may MOVE partitions, the rewrite stays
  * file-scoped (partition-aligned predicates rewrite only the
  * matching partition's files, proven by layout-dir pruning), and
  * prior snapshots time-travel.
  */
class PartitionedDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(cname: String): (TableIO, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_pdml_${cname}_").toString
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", wh)
    (TableIO(spark, wh), wh)
  }

  test("UPDATE on a Hive-partitioned table: values change, layout intact, file-scoped") {
    val (io, _) = freshCat("pd1")
    val t = "default.sales"
    io.append(
      Seq((1L, 2020, 10.0), (2L, 2020, 20.0), (3L, 2021, 30.0), (4L, 2022, 40.0))
        .toDF("id", "yr", "amt").repartition(col("yr")),
      t, Seq("yr"))
    val before = io.catalog.manifest(t, 1)
    spark.sql("UPDATE pd1.default.sales SET amt = amt + 1 WHERE yr = 2021")
    val v2 = io.catalog.currentVersion(t).get
    val after = io.catalog.manifest(t, v2)
    // file-scoped via layout-dir pruning: only yr=2021's file rewrote
    val carried = after.toSet.intersect(before.toSet)
    assert(carried == before.filterNot(_.contains("yr=2021")).toSet,
      s"only the yr=2021 partition may rewrite: before=$before after=$after")
    // replacement rows landed UNDER the layout (no flat files)
    assert(after.forall(_.contains("yr=")), s"layout must survive the rewrite: $after")
    assert(io.read(t).select("id", "yr", "amt").as[(Long, Int, Double)].collect().toSet ==
      Set((1L, 2020, 10.0), (2L, 2020, 20.0), (3L, 2021, 31.0), (4L, 2022, 40.0)))
    // prior snapshot time-travels
    assert(io.readVersion(t, 1).filter(col("id") === 3)
      .select("amt").head().getDouble(0) == 30.0)
    // partition pruning still works on the updated table
    val pruned = spark.table("pd1.default.sales").filter(col("yr") === 2021)
    assert(pruned.count() == 1)
  }

  test("UPDATE that changes the partition column MOVES the row's directory") {
    val (io, _) = freshCat("pd2")
    val t = "default.mv"
    io.append(Seq((1L, 2020, "a"), (2L, 2021, "b")).toDF("id", "yr", "s")
      .repartition(col("yr")), t, Seq("yr"))
    spark.sql("UPDATE pd2.default.mv SET yr = 2025 WHERE id = 1")
    val v = io.catalog.currentVersion(t).get
    val files = io.catalog.manifest(t, v)
    assert(files.exists(_.contains("yr=2025")), s"moved row needs its new dir: $files")
    assert(!files.exists(_.contains("yr=2020")), s"the old dir's file was replaced: $files")
    assert(io.read(t).select("id", "yr", "s").as[(Long, Int, String)].collect().toSet ==
      Set((1L, 2025, "a"), (2L, 2021, "b")))
    assert(spark.table("pd2.default.mv").filter(col("yr") === 2025).count() == 1)
  }

  test("MERGE INTO a partitioned table: updates and inserts land in their partitions") {
    val (io, _) = freshCat("pd3")
    val t = "default.mrg"
    io.append(Seq((1L, 2020, 10.0), (2L, 2021, 20.0)).toDF("id", "yr", "amt")
      .repartition(col("yr")), t, Seq("yr"))
    Seq((2L, 2021, 5.0), (9L, 2022, 90.0)).toDF("id", "yr", "delta")
      .createOrReplaceTempView("pdml_src")
    spark.sql(
      """MERGE INTO pd3.default.mrg t USING pdml_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        |WHEN NOT MATCHED THEN INSERT (id, yr, amt) VALUES (s.id, s.yr, s.delta)""".stripMargin)
    spark.catalog.dropTempView("pdml_src")
    assert(io.read(t).select("id", "yr", "amt").as[(Long, Int, Double)].collect().toSet ==
      Set((1L, 2020, 10.0), (2L, 2021, 25.0), (9L, 2022, 90.0)))
    val files = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    assert(files.forall(_.contains("yr=")), s"every file under the layout: $files")
    assert(files.exists(_.contains("yr=2022")), "the inserted row needs its partition dir")
  }

  test("UPDATE over a hidden-spec (days) layout re-derives gp_ directories") {
    val (io, _) = freshCat("pd4")
    spark.sql("CREATE TABLE pd4.default.ev (id BIGINT, od DATE, v DOUBLE) " +
      "PARTITIONED BY (days(od))")
    io.append(
      Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0),
          (2L, java.sql.Date.valueOf("2024-01-02"), 2.0)).toDF("id", "od", "v"),
      "default.ev")
    spark.sql("UPDATE pd4.default.ev SET v = v * 10 WHERE od = DATE'2024-01-02'")
    val t = "default.ev"
    val files = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    assert(files.forall(_.contains("gp_days_od=")), s"hidden layout must survive: $files")
    // layout-dir pruning scoped the rewrite to the matching day
    // (days dirs carry EPOCH DAYS, not date strings)
    val d1 = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val d2 = java.time.LocalDate.parse("2024-01-02").toEpochDay
    val before = io.catalog.manifest(t, 2) // v1 = CREATE, v2 = the append
    assert(files.count(_.contains(s"gp_days_od=$d1")) == 1 &&
      files.exists(_.contains(s"gp_days_od=$d2")), s"files: $files")
    assert(before.filter(_.contains(s"gp_days_od=$d1")).toSet ==
      files.filter(_.contains(s"gp_days_od=$d1")).toSet,
      "the untouched day's file must carry over verbatim")
    assert(spark.table("pd4.default.ev").select("id", "v").as[(Long, Double)]
      .collect().toSet == Set((1L, 1.0), (2L, 20.0)))
    // updating the hidden spec's SOURCE column moves the row's derived
    // directory (the partition-move case for hidden layouts)
    spark.sql("UPDATE pd4.default.ev SET od = DATE'2024-03-15' WHERE id = 2")
    val d3 = java.time.LocalDate.parse("2024-03-15").toEpochDay
    val moved = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    assert(moved.exists(_.contains(s"gp_days_od=$d3")) &&
      !moved.exists(_.contains(s"gp_days_od=$d2")), s"row must move dirs: $moved")
    assert(spark.table("pd4.default.ev").filter(col("id") === 2)
      .select("od").head().getDate(0).toString == "2024-03-15")
  }

  test("DELETE on a partitioned table keeps its metadata/COW path (no regression)") {
    val (io, _) = freshCat("pd5")
    val t = "default.del"
    io.append(Seq((1L, 2020), (2L, 2021)).toDF("id", "yr").repartition(col("yr")),
      t, Seq("yr"))
    val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    spark.sql("DELETE FROM pd5.default.del WHERE yr = 2020")
    // partition-aligned delete = metadata-only (no new data files)
    val v = io.catalog.currentVersion(t).get
    val after = io.catalog.manifest(t, v)
    assert(after.toSet.subsetOf(before.toSet),
      s"metadata delete must write NO new files: before=$before after=$after")
    assert(after.forall(_.contains("yr=2021")))
    assert(io.read(t).select("id", "yr").as[(Long, Int)].collect().toSet == Set((2L, 2021)))
  }
}
