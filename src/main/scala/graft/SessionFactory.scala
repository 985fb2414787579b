package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession recipe.
  *
  * Replaces the 5x-duplicated builder block in the reference
  * (reference: IngestionJob.scala:12-20, DimensionJob.scala:17-25,
  * FactJob.scala:16-24, AggregationJob.scala:17-25,
  * DataQualityJob.scala:12-20). The reference configures an Iceberg
  * catalog + extensions; we configure plain Spark with AQE and a
  * shuffle-partition count sized for the local core count rather than
  * the 200 default. On a real cluster the same builder is used with
  * `master` left to spark-submit and shuffle partitions sized to
  * roughly 2-3x total executor cores (AQE coalesces down at runtime).
  */
object SessionFactory {

  /** Default parallelism for local runs; harness uses local[32]. */
  def localCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `file://` through [[graft.io.NoForkLocalFileSystem]]: every Hadoop
    * local write (table data files, stream checkpoints and sink
    * staging) sets permissions in-process
    * instead of forking `chmod`. Assumes a local POSIX file system and
    * no libhadoop; other file systems are untouched. The tests'
    * session registers the same map.
    */
  val localFsConf: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[graft.io.NoForkLocalFileSystem].getName)

  def build(appName: String = "graft", master: Option[String] = Some(s"local[$localCores]")): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", localCores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // storage-partitioned joins: honor the KeyGroupedPartitioning
      // the graft catalog scan reports for bucket(n, key) layouts —
      // zero-exchange joins of co-bucketed tables. pushPartValues
      // tolerates one side missing a bucket value (empty bucket).
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(localFsConf)
    val withMaster = master.fold(b)(b.master)
    val spark = withMaster.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
