package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.CopyOnWriteArrayList

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

      // jobs started between the read and a fence job of our own; one
      // listener queue delivers events in order, so once the fence's
      // start is seen every earlier start has been seen too
      val started = new CopyOnWriteArrayList[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          started.add(Option(e.properties).map(_.getProperty("spark.job.description")).orNull)
      }
      spark.sparkContext.addSparkListener(listener)
      val df =
        try {
          val read = io.read("default.t")
          spark.sparkContext.setJobDescription("fence")
          try spark.sparkContext.parallelize(Seq(1), 1).count()
          finally spark.sparkContext.setJobDescription(null)
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!started.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
          read
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(started.contains("fence"), "fence job start never delivered")
      assert(started.indexOf("fence") == 0, s"jobs started by io.read: $started")

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
}
