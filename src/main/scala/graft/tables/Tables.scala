package graft.tables

import org.apache.spark.sql.{DataFrame, GraftManifestScan, SparkSession}

/** Readers for the harness testdata (TESTDATA.md): one parquet file per
  * table under the scale-factor directory, or a Spark-written directory
  * of part files in its place. Mirrors the reference's raw-parquet scan
  * entry point (reference: IngestionJob.scala:32-34) including its
  * mergeSchema semantics, so heterogeneous file sets union their
  * schemas across footers.
  *
  * The merge runs on the driver: [[read]] globs and lists the path the
  * way `spark.read` does, once, and that listing serves both the footer
  * merge — every footer read in a parallel stream and folded exactly as
  * Spark's `mergeSchema` inference folds them (`GraftManifestScan`) —
  * and the scan. No Spark job runs before an action, and the cost is
  * one footer read per file.
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    GraftManifestScan.read(spark, s"$sfDir/$name.parquet", Map("mergeSchema" -> "true"))

  def region(spark: SparkSession, d: String): DataFrame     = read(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame     = read(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame   = read(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = read(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = read(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame     = read(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame   = read(spark, d, "lineitem")
  /** The events table's `ts` column has shipped as both INT64
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects) and as
    * plain TIMESTAMP(MICROS) without UTC adjustment (scanned as
    * TIMESTAMP_NTZ). Normalize both to TimestampType by branching on
    * the scanned type: a LongType scan means the nanosAsLong legacy
    * path is active, so truncate nanos to micros (matching DuckDB's
    * TIMESTAMP_NS -> TIMESTAMP cast); an NTZ scan is cast to
    * TimestampType (the session timezone is pinned to UTC in
    * SessionFactory, so the instant is the same wall-clock value).
    * Downstream consumers (unix_micros, watermarks, session_window)
    * then always see one type regardless of fixture vintage.
    * (reference: IngestionJob.scala:62 timestamp-column handling)
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, d, "events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame  = read(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = read(spark, d, "embeddings")
}
