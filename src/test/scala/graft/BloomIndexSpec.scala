package graft

import org.apache.spark.sql.functions._

/** Per-file bloom index (`TableIO.addBloomIndex`): point lookups skip
  * files that range stats cannot, results stay exact, and every
  * conservative fallback (unindexed file, unsupported literal type)
  * keeps files rather than wrongly pruning them.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Files the catalog scan actually planned (post stats/bloom skip). */
  private def pathsIn(sql: String): Int = {
    val df = spark.sql(sql)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    "InMemoryFileIndex\\((\\d+) paths\\)".r.findFirstMatchIn(p).map(_.group(1).toInt)
      .getOrElse(fail(s"no file index in plan:\n$p"))
  }

  // one catalog NAME per fixture: Spark's CatalogManager caches the
  // instantiated plugin per name, so re-pointing a name at a second
  // warehouse within the JVM would silently keep the first
  private def withCatalog(cat: String, wh: String)(body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("point lookups skip files the range stats cannot; absent keys prune everything") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bloom_").toString
    val io = graft.io.TableIO(spark, wh)
    val rnd = new scala.util.Random(11)
    // EVEN keys only, scattered over 8 files: every file's (min, max)
    // spans the whole domain -> range stats keep all 8 for any lookup
    val rows = rnd.shuffle((0 until 2000).map(_ * 2).toVector).map(k => (k.toLong, s"s$k"))
    io.append(rows.toDF("k", "s").repartition(8), "default.t")

    withCatalog("gcb1", wh) {
      val total = io.catalog.manifest("default.t", io.versions("default.t").last).size
      assert(total >= 8)
      assert(pathsIn("SELECT * FROM gcb1.default.t WHERE k = 274") == total,
        "scattered layout must not range-prune (fixture invariant)")

      val indexed = io.addBloomIndex("default.t", "k")
      assert(indexed == total, s"expected $total files indexed, got $indexed")
      // re-run is incremental: nothing left to index
      assert(io.addBloomIndex("default.t", "k") == 0)

      // present key: ~1 file (fpp=1% makes a 2nd file possible, not 5)
      val hit = pathsIn("SELECT * FROM gcb1.default.t WHERE k = 274")
      assert(hit <= 2, s"bloom should skip to ~1 of $total files, scanned $hit")
      assert(spark.sql("SELECT s FROM gcb1.default.t WHERE k = 274").as[String].head() == "s274")

      // absent key INSIDE the [min, max] domain: bloom prunes all files
      val miss = pathsIn("SELECT * FROM gcb1.default.t WHERE k = 275")
      assert(miss <= 1, s"absent key should prune ~all files, scanned $miss")
      assert(spark.sql("SELECT * FROM gcb1.default.t WHERE k = 275").isEmpty)

      // IN-list unions per-value verdicts
      val inHit = pathsIn("SELECT * FROM gcb1.default.t WHERE k IN (274, 846, 275)")
      assert(inHit <= 4, s"IN-list should scan ~2 files, scanned $inHit")
      assert(spark.sql("SELECT count(*) c FROM gcb1.default.t WHERE k IN (274, 846, 275)")
        .head().getLong(0) == 2L)

      // result equality against an unpruned scan shape
      val viaIndex = spark.sql("SELECT k, s FROM gcb1.default.t WHERE k BETWEEN 270 AND 280")
        .as[(Long, String)].collect().toSet
      assert(viaIndex == rows.filter(r => r._1 >= 270 && r._1 <= 280).toSet)
    }
  }

  test("string-column index, unindexed appends stay scanned, and the index re-extends") {
    val wh = java.nio.file.Files.createTempDirectory("graft_blooms_").toString
    val io = graft.io.TableIO(spark, wh)
    val rnd = new scala.util.Random(3)
    val rows = rnd.shuffle((0 until 1200).toVector).map(k => (k.toLong, s"name_$k"))
    io.append(rows.toDF("k", "s").repartition(6), "default.u")
    io.addBloomIndex("default.u", "s")

    withCatalog("gcb2", wh) {
      val total0 = io.catalog.manifest("default.u", io.versions("default.u").last).size
      val hit = pathsIn("SELECT * FROM gcb2.default.u WHERE s = 'name_77'")
      assert(hit <= 2, s"string bloom should skip to ~1 of $total0 files, scanned $hit")

      // append a file WITHOUT a bloom: conservative -> it is always
      // scanned, so a key that lives only there is still found
      io.append(Seq((9999L, "name_9999")).toDF("k", "s"), "default.u")
      assert(spark.sql("SELECT k FROM gcb2.default.u WHERE s = 'name_9999'")
        .as[Long].head() == 9999L)
      val afterAppend = pathsIn("SELECT * FROM gcb2.default.u WHERE s = 'name_77'")
      assert(afterAppend <= 3, s"indexed files still skip after an unindexed append, scanned $afterAppend")

      // incremental re-index covers exactly the new file
      assert(io.addBloomIndex("default.u", "s") == 1)
      val afterReindex = pathsIn("SELECT * FROM gcb2.default.u WHERE s = 'name_9999'")
      assert(afterReindex <= 2, s"re-index should make the new file skippable too, scanned $afterReindex")
    }
  }

  test("a second column's index reaches same-JVM readers; unknown columns fail loudly") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bloom2_").toString
    val io = graft.io.TableIO(spark, wh)
    val rnd = new scala.util.Random(5)
    val rows = rnd.shuffle((0 until 1600).map(_ * 2).toVector).map(k => (k.toLong, s"n$k"))
    io.append(rows.toDF("k", "s").repartition(8), "default.two")
    withCatalog("gcb3", wh) {
      io.addBloomIndex("default.two", "k")
      // warm the cache through a read, THEN index the second column —
      // the per-column prime merge must let s's bloom land
      assert(pathsIn("SELECT * FROM gcb3.default.two WHERE k = 275") <= 1)
      io.addBloomIndex("default.two", "s")
      val sMiss = pathsIn("SELECT * FROM gcb3.default.two WHERE s = 'n275'")
      assert(sMiss <= 1, s"second column's bloom must prune too, scanned $sMiss")
      val kStill = pathsIn("SELECT * FROM gcb3.default.two WHERE k = 275")
      assert(kStill <= 1, "first column's bloom must survive the second index")
    }
    val e = intercept[IllegalArgumentException] {
      io.addBloomIndex("default.two", "no_such_col")
    }
    assert(e.getMessage.contains("no such column"))
  }

  test("bloom survives manifest round-trip and unrelated commits carry it forward") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bloomc_").toString
    val io = graft.io.TableIO(spark, wh)
    io.append((0L until 500L).map(k => (k, s"v$k")).toDF("k", "s").repartition(4), "default.w")
    io.addBloomIndex("default.w", "k")
    val v = io.versions("default.w").last
    val stats = io.catalog.manifestStats("default.w", v)
    assert(stats.nonEmpty && stats.values.forall(_.get("k").exists(_.bloom.isDefined)),
      "every file's k column should carry a bloom in the manifest")
    // an append carries the indexed files' blooms forward (kept-file
    // stats ride statsForCommit verbatim)
    io.append(Seq((9000L, "v9000")).toDF("k", "s"), "default.w")
    val stats2 = io.catalog.manifestStats("default.w", io.versions("default.w").last)
    assert(stats2.count(_._2.get("k").exists(_.bloom.isDefined)) == stats.size,
      "kept files keep their blooms after an append")
    // a FULL-REWRITE delete replaces every file -> the new files are
    // unindexed by design (a stale bloom on rewritten data would be
    // unsound); rows are correct and re-indexing re-arms the skip. The
    // predicate is untranslatable on purpose: a translatable one would
    // scope the delete and carry the untouched files with their blooms
    io.deleteWhere("default.w", col("k") % 1000L === 123L)
    val stats3 = io.catalog.manifestStats("default.w", io.versions("default.w").last)
    assert(stats3.values.forall(_.get("k").forall(_.bloom.isEmpty)),
      "rewritten files must not inherit blooms")
    assert(io.read("default.w").count() == 500L)
    assert(io.addBloomIndex("default.w", "k") > 0)
  }

  test("copy-on-write SQL DELETE is bloom-scoped: one key's delete rewrites ~1 file") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bloomd_").toString
    val io = graft.io.TableIO(spark, wh)
    val rnd = new scala.util.Random(19)
    // scattered even keys: min/max stats cannot scope the delete
    val rows = rnd.shuffle((0 until 1600).map(_ * 2).toVector).map(k => (k.toLong, s"d$k"))
    io.append(rows.toDF("k", "s").repartition(8), "default.del")
    io.addBloomIndex("default.del", "k")
    withCatalog("gcb4", wh) {
      val before = io.catalog.manifest("default.del", io.versions("default.del").last)
      spark.sql("DELETE FROM gcb4.default.del WHERE k = 274")
      val after = io.catalog.manifest("default.del", io.versions("default.del").last)
      val carried = before.toSet.intersect(after.toSet).size
      assert(carried >= before.size - 2,
        s"bloom should scope the rewrite to ~1 of ${before.size} files, carried only $carried")
      assert(spark.sql("SELECT * FROM gcb4.default.del WHERE k = 274").isEmpty)
      assert(spark.sql("SELECT count(*) c FROM gcb4.default.del").head().getLong(0) == 1599L)
      // deleting an absent key: blooms scope the rewrite to the false
      // positives only (expected ~0.08 files at fpp=1% x 8 files — on
      // this seeded fixture exactly one file fp's), and rows never
      // change; a fully-pruned candidate set commits nothing at all
      val manifestBefore = io.catalog.manifest("default.del", io.versions("default.del").last)
      spark.sql("DELETE FROM gcb4.default.del WHERE k = 275")
      val manifestAfter = io.catalog.manifest("default.del", io.versions("default.del").last)
      assert(manifestBefore.toSet.intersect(manifestAfter.toSet).size >= manifestBefore.size - 1,
        "an absent-key delete may rewrite at most the bloom's false-positive files")
      assert(spark.sql("SELECT count(*) c FROM gcb4.default.del").head().getLong(0) == 1599L)
    }
  }

  test("metadata-only index commit is invisible to the changelog and time travel") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bloomm_").toString
    val io = graft.io.TableIO(spark, wh)
    io.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "default.x")
    io.addBloomIndex("default.x", "k")
    val cl = io.readChangelog("default.x")
    // the index commit adds/removes no files -> no changelog step
    assert(cl.select(max(col("_change_version"))).head().getInt(0) == 1)
    assert(io.readVersion("default.x", 1).count() == 2L)
    assert(io.readVersion("default.x", 2).count() == 2L)
  }
}
