package graft

import java.nio.file.Files

import graft.io.{GraftCatalog, TableIO}

/** Metadata-only DELETE (Iceberg's metadata delete): a file whose
  * stats PROVE the predicate selects every row drops from the manifest
  * without being read or rewritten; only predicate-boundary files pay
  * a rewrite. SQL semantics (null comparisons keep the row) hold on
  * every path.
  */
class MetadataDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def withCat(cat: String)(body: TableIO => Unit): Unit = {
    val wh = Files.createTempDirectory("graft_mdel_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(TableIO(spark, wh)) finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("a fully-covered file drops from the manifest with zero reads and zero writes") {
    withCat("gxmd") { io =>
      val t = "default.md_t"
      // three files with disjoint id ranges
      io.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), t)
      io.append((11L to 20L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1), t)
      io.append((21L to 30L).map(i => (i, s"c$i")).toDF("id", "s").coalesce(1), t)
      val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
      assert(before.size === 3)

      // covers the middle file exactly: metadata-only
      spark.sql("DELETE FROM gxmd.default.md_t WHERE id BETWEEN 11 AND 20")
      val v = io.catalog.currentVersion(t).get
      val after = io.catalog.manifest(t, v)
      assert(after.toSet.subsetOf(before.toSet), "metadata delete must write NO new files")
      assert(after.size === 2)
      assert(io.read(t).count() === 20)
      // dropped file still readable via time travel
      assert(io.readVersion(t, v - 1).count() === 30)

      // full-table provable delete: empty manifest, still zero writes
      spark.sql("DELETE FROM gxmd.default.md_t WHERE id >= 0")
      val after2 = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
      assert(after2.isEmpty && io.read(t).count() === 0)

      // the programmatic DELETE runs the same executor: the covered
      // file drops, the untouched one carries verbatim
      val tp = "default.md_p"
      val untouched = io.catalog.manifest(tp,
        io.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1), tp))
      io.append((11L to 20L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1), tp)
      val beforeP = io.catalog.manifest(tp, io.catalog.currentVersion(tp).get)
      assert(beforeP.size === 2)
      io.deleteWhere(tp, org.apache.spark.sql.functions.col("id") > 10L)
      val afterP = io.catalog.manifest(tp, io.catalog.currentVersion(tp).get)
      assert(afterP === untouched,
        s"io.deleteWhere must drop the covered file and carry the other: $beforeP -> $afterP")
      assert(io.read(tp).count() === 10)
    }
  }

  test("a boundary file rewrites while fully-covered files drop; results match SQL exactly") {
    withCat("gxmb") { io =>
      val t = "default.mb_t"
      io.append((1L to 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), t)
      io.append((11L to 20L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), t)
      io.append((21L to 30L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), t)
      val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet

      // file1 fully covered, file2 half covered, file3 untouched
      spark.sql("DELETE FROM gxmb.default.mb_t WHERE id <= 15")
      val after = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      val carried = after.intersect(before)
      val rewritten = after.diff(before)
      assert(carried.size === 1, s"only the untouched file carries: $carried")
      assert(rewritten.size === 1, s"exactly the boundary file rewrites: $rewritten")
      assert(io.read(t).select("id").as[Long].collect().sorted.toSeq === (16L to 30L))
    }
  }

  test("SQL null semantics block the metadata tier: a null-bearing file rewrites, null rows survive") {
    withCat("gxmn") { io =>
      val t = "default.mn_t"
      io.append(Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "n"))
        .toDF("id", "s").coalesce(1), t)
      val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      // id <= 2 is true for every NON-NULL row, but the null row's
      // comparison is NULL -> the row is KEPT; dropping the whole file
      // would be wrong, so the stats tier must refuse
      spark.sql("DELETE FROM gxmn.default.mn_t WHERE id <= 2")
      val after = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      assert(after.diff(before).size === 1, "the null-bearing file must REWRITE, not drop")
      val rows = io.read(t).select("s").as[String].collect().toSeq
      assert(rows === Seq("n"), s"the null-id row survives: $rows")

      // IS NULL over an all-null file IS provable: metadata-only drop
      val t2 = "default.mn_allnull"
      io.append(Seq((Option.empty[Long], "x"), (None, "y")).toDF("id", "s").coalesce(1), t2)
      io.append(Seq((Option(5L), "z")).toDF("id", "s").coalesce(1), t2)
      val b2 = io.catalog.manifest(t2, io.catalog.currentVersion(t2).get).toSet
      spark.sql("DELETE FROM gxmn.default.mn_allnull WHERE id IS NULL")
      val a2 = io.catalog.manifest(t2, io.catalog.currentVersion(t2).get).toSet
      assert(a2.subsetOf(b2) && a2.size === 1)
      assert(io.read(t2).select("s").as[String].collect().toSeq === Seq("z"))
    }
  }
}
