package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (Test/fork := true → one JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(SessionFactory.localFsConf)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
