package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The table layer's per-file fixed costs: a written file costs no
  * forked `chmod` (permissions set in-process, same bits, same `.crc`
  * sidecars) and a manifest scan costs no listing job.
  */
class PerFileCostSpec extends SparkSpec {
  import spark.implicits._

  /** The session's `file://` class, resolved past the JVM-wide
    * FileSystem cache (which keeps whichever instance came first).
    */
  private def localFs(umask: Option[String] = None): FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    umask.foreach(conf.set(FsPermission.UMASK_LABEL, _))
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  private def bits(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The Spark jobs `body` starts, each by its description or else its
    * first stage's name. A fence job of our own runs after `body`; one
    * listener queue delivers events in order, so once the fence's start
    * is seen every earlier start has been seen too.
    */
  private def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val started = new CopyOnWriteArrayList[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse(s"job ${e.jobId}"))
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val r = body
        spark.sparkContext.setJobDescription("fence")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!started.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.contains("fence"), "fence job start never delivered")
    (out, started.asScala.toSeq.takeWhile(_ != "fence"))
  }

  test("files and directories get exactly the umask-applied bits, .crc sidecars still written") {
    for (umask <- Seq("022", "027")) {
      val fs = localFs(Some(umask))
      try {
        assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass.getName)
        val mask = FsPermission.getUMask(fs.getConf)
        val root = Files.createTempDirectory("graft_nofork_")
        val file = new Path(root.toUri.toString, "a/b/part-0.parquet")
        val out = fs.create(file)
        out.write(Array[Byte](1, 2, 3))
        out.close()
        val fileBits = FsPermission.getFileDefault.applyUMask(mask).toString
        val dirBits = FsPermission.getDirDefault.applyUMask(mask).toString
        assert(bits(root.resolve("a/b/part-0.parquet")) == fileBits, s"umask $umask")
        assert(bits(root.resolve("a/b/.part-0.parquet.crc")) == fileBits, s"umask $umask")
        assert(bits(root.resolve("a")) == dirBits, s"umask $umask")
        assert(bits(root.resolve("a/b")) == dirBits, s"umask $umask")
        assert(fs.mkdirs(new Path(root.toUri.toString, "c")))
        assert(bits(root.resolve("c")) == dirBits, s"umask $umask")
      } finally fs.close()
    }
  }

  test("a sticky-bit permission falls back to Hadoop's own chmod") {
    val fs = localFs()
    try {
      val dir = Files.createTempDirectory("graft_sticky_")
      fs.setPermission(new Path(dir.toUri.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ==
        Integer.parseInt("1777", 8))
      // an explicit nine-bit permission takes the in-process path
      fs.setPermission(new Path(dir.toUri.toString), new FsPermission(Integer.parseInt("0750", 8).toShort))
      assert(bits(dir) == "rwxr-x---")
    } finally fs.close()
  }

  test("io.read of a 40-file table starts no Spark job before an action") {
    val wh = Files.createTempDirectory("graft_manifest_scan_").toString
    spark.conf.set("spark.sql.catalog.gms", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gms.warehouse", wh)
    try {
      spark.sql("CREATE TABLE gms.default.t (k INT, v STRING, p INT) PARTITIONED BY (p)")
      val io = TableIO(spark, wh)
      io.append((0 until 400).map(i => (i, s"v$i", i % 40)).toDF("k", "v", "p").repartition(col("p")),
        "default.t", partitionCols = Seq("p"))
      val files = io.catalog.manifest("default.t", io.versions("default.t").last)
      assert(files.size == 40)

      val (df, started) = jobsStartedBy(io.read("default.t"))
      assert(started.isEmpty, s"jobs started by io.read: $started")

      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryFileIndex(40 paths)"), plan)
      val cols = df.columns.sorted.toSeq
      val plain = spark.read.option("basePath", io.catalog.dataPath("default.t")).parquet(files: _*)
      assert(plain.columns.sorted.toSeq == cols)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(rows(df) == rows(plain))
      assert(rows(df).size == 400)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gms.default.t")
      spark.conf.unset("spark.sql.catalog.gms")
      spark.conf.unset("spark.sql.catalog.gms.warehouse")
    }
  }

  /** A schema-on-read table (written through `io.append` alone, so no
    * declared schema) of 40 single-partition files and one more file,
    * in partition 0, that adds a column.
    */
  private def withUndeclaredTable(body: (TableIO, Seq[String]) => Unit): Unit = {
    val wh = Files.createTempDirectory("graft_undeclared_").toString
    spark.conf.set("spark.sql.catalog.gmu", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmu.warehouse", wh)
    try {
      val io = TableIO(spark, wh)
      io.append((0 until 400).map(i => (i, s"v$i", i % 40)).toDF("k", "v", "p").repartition(col("p")),
        "default.u", partitionCols = Seq("p"))
      io.append(Seq((400, "v400", 7L, 0)).toDF("k", "v", "extra", "p"), "default.u",
        partitionCols = Seq("p"))
      val files = io.catalog.manifest("default.u", io.versions("default.u").last)
      assert(files.size == 41)
      assert(io.catalog.readMeta("default.u").schemaJson.isEmpty, "the table must not declare a schema")
      body(io, files)
    } finally {
      spark.conf.unset("spark.sql.catalog.gmu")
      spark.conf.unset("spark.sql.catalog.gmu.warehouse")
    }
  }

  private def rowsOf(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.select(d.columns.sorted.toSeq.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("io.read of an undeclared-schema table starts no Spark job and merges as Spark does") {
    withUndeclaredTable { (io, files) =>
      val (df, started) = jobsStartedBy(io.read("default.u"))
      assert(started.isEmpty, s"jobs started by io.read: $started")
      val spark0 = spark.read.option("mergeSchema", "true")
        .option("basePath", io.catalog.dataPath("default.u")).parquet(files: _*)
      assert(df.schema == spark0.schema)
      assert(df.columns.contains("extra"))
      assert(rowsOf(df) == rowsOf(spark0))
      assert(rowsOf(df).size == 401)
    }
  }

  test("a SQL SELECT through the graft catalog starts no Spark job before an action") {
    withUndeclaredTable { (io, _) =>
      val (df, started) = jobsStartedBy(spark.sql("SELECT * FROM gmu.default.u WHERE p < 2"))
      assert(started.isEmpty, s"jobs started by the SELECT: $started")
      assert(df.schema == io.read("default.u").schema)
      assert(rowsOf(df) == rowsOf(io.read("default.u").where(col("p") < 2)))
      // a scan skipped down to files without the added column still
      // reads under the table's schema: the column comes back null
      val skipped = spark.sql("SELECT * FROM gmu.default.u WHERE p = 1")
      assert(skipped.schema == df.schema)
      assert(rowsOf(skipped) == rowsOf(io.read("default.u").where(col("p") === 1)))
      assert(skipped.where(col("extra").isNull).count() == 10)
      // a scan pruned to no file at all keeps the partition column
      val none = spark.sql("SELECT * FROM gmu.default.u WHERE p = 99")
      assert(none.schema == df.schema)
      assert(rowsOf(none).isEmpty)
      assert(none.select("p").collect().isEmpty)
    }
  }

  test("a no-match UPDATE on an undeclared-schema partitioned table is a no-op") {
    withUndeclaredTable { (io, _) =>
      val before = rowsOf(io.read("default.u"))
      spark.sql("UPDATE gmu.default.u SET v = 'x' WHERE k = 12345")
      assert(rowsOf(io.read("default.u")) == before)
    }
  }

  /** The checkout's copy of the sf0.001 fixture (the benchmark's smoke
    * input, byte for byte the TESTDATA.md tables).
    */
  private val sf0001 = java.nio.file.Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
  private val fixtures = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  test("Tables.read of an sf0.001 fixture starts no Spark job before an action") {
    val (df, started) = jobsStartedBy(graft.tables.Tables.lineitem(spark, sf0001))
    assert(started.isEmpty, s"jobs started by Tables.read: $started")
    assert(df.count() > 0)
  }

  test("Tables.read resolves its path as spark.read does: a glob matches, a missing path names itself") {
    val glob = sf0001.stripSuffix("1") + "[1]"
    val globbed = graft.tables.Tables.read(spark, glob, "nation")
    val sparks = spark.read.option("mergeSchema", "true").parquet(s"$glob/nation.parquet")
    assert(globbed.schema == sparks.schema)
    assert(rowsOf(globbed) == rowsOf(sparks))
    val missing = intercept[Exception](graft.tables.Tables.read(spark, sf0001, "no_such_table"))
    assert(conditionOf(missing).contains("PATH_NOT_FOUND"), missing)
    assert(missing.getMessage.contains("no_such_table.parquet"), missing)
  }

  test("Tables schemas equal Spark's mergeSchema inference on every fixture, nanosAsLong too") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    def sparks(name: String) =
      spark.read.option("mergeSchema", "true").parquet(s"$sf0001/$name.parquet").schema
    try {
      for (nanos <- Seq("false", "true")) {
        spark.conf.set(key, nanos)
        for (t <- fixtures)
          assert(graft.tables.Tables.read(spark, sf0001, t).schema == sparks(t), s"$t, nanosAsLong=$nanos")
      }
      // Tables.events sets nanosAsLong itself; its raw scan still
      // agrees with Spark's under that setting
      graft.tables.Tables.events(spark, sf0001)
      assert(graft.tables.Tables.read(spark, sf0001, "events").schema == sparks("events"))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `name.parquet`, a directory of parquet files: one written per
    * frame, in order.
    */
  private def fileSet(name: String, frames: org.apache.spark.sql.DataFrame*): (String, Seq[String]) = {
    val root = Files.createTempDirectory("graft_fileset_").toString
    frames.foreach(_.coalesce(1).write.mode("append").parquet(s"$root/$name.parquet"))
    val files = Files.list(java.nio.file.Paths.get(s"$root/$name.parquet")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    (root, files)
  }

  test("an added-column file set merges as Spark does through Tables and the manifest scan") {
    val (root, files) = fileSet("added",
      Seq((1, "a")).toDF("k", "v"), Seq((2, "b", 3L)).toDF("k", "v", "extra"), Seq(Tuple1(4)).toDF("k"))
    val sparks = spark.read.option("mergeSchema", "true").parquet(s"$root/added.parquet")
    assert(sparks.columns.toSeq == Seq("k", "v", "extra"))
    val tables = graft.tables.Tables.read(spark, root, "added")
    assert(tables.schema == sparks.schema)
    assert(rowsOf(tables) == rowsOf(sparks))
    val scan = org.apache.spark.sql.GraftManifestScan.parquet(spark, files, Map("mergeSchema" -> "true"), None)
    assert(scan.schema == spark.read.option("mergeSchema", "true").parquet(files: _*).schema)
    assert(rowsOf(scan) == rowsOf(sparks))
  }

  /** The first error condition on `e`'s cause chain. */
  private def conditionOf(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
    }

  test("an int/long conflict fails with Spark's own inference error") {
    val (root, files) = fileSet("conflict", Seq(1).toDF("k"), Seq(2L).toDF("k"))
    val sparks = intercept[Exception](
      spark.read.option("mergeSchema", "true").parquet(s"$root/conflict.parquet").schema)
    assert(conditionOf(sparks).contains("CANNOT_MERGE_SCHEMAS"), sparks)
    val tables = intercept[Exception](graft.tables.Tables.read(spark, root, "conflict"))
    assert(conditionOf(tables) == conditionOf(sparks), tables)
    val scan = intercept[Exception](org.apache.spark.sql.GraftManifestScan.parquet(spark, files,
      Map("mergeSchema" -> "true"), None))
    assert(conditionOf(scan) == conditionOf(sparks), scan)
  }

  test("an unreadable footer fails the merge, and ignoreCorruptFiles skips it as Spark does") {
    val (root, files) = fileSet("corrupt", Seq((1, "a")).toDF("k", "v"))
    val bad = s"$root/corrupt.parquet/part-zz-corrupt.parquet"
    Files.write(java.nio.file.Paths.get(bad), "not a parquet file".getBytes)
    val all = files :+ bad
    val failed = intercept[Exception](org.apache.spark.sql.GraftManifestScan.parquet(spark, all,
      Map("mergeSchema" -> "true"), None))
    val sparkFailed = intercept[Exception](spark.read.option("mergeSchema", "true").parquet(all: _*).schema)
    assert(conditionOf(failed).isDefined && conditionOf(failed) == conditionOf(sparkFailed), failed)
    val opts = Map("mergeSchema" -> "true", "ignoreCorruptFiles" -> "true")
    assert(org.apache.spark.sql.GraftManifestScan.parquet(spark, all, opts, None).schema ==
      spark.read.options(opts).parquet(all: _*).schema)
  }
}
