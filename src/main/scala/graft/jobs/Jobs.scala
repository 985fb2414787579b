package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.slf4j.LoggerFactory

import graft.SessionFactory
import graft.io.TableIO
import graft.pipeline.{Aggregations, Dimensions, Fact, Ingestion, Quality}
import graft.tables.Tables

/** The reference's operational surface: five standalone spark-submit
  * apps run in order (reference: README.md:78-105 — IngestionJob,
  * DimensionJob, FactJob, AggregationJob, DataQualityJob), each a
  * guarded main with `sys.exit(1)` on failure (reference:
  * IngestionJob.scala:88-92, FactJob.scala:33-36). These mains are
  * THIN: all transform logic lives in `graft.pipeline`, all table IO
  * in `graft.io.TableIO` — a job is session + guards + composition.
  *
  * CLI contract (all five):
  * {{{
  *   spark-submit --class graft.jobs.IngestionJob <jar> [inputDir] [warehouse]
  * }}}
  * `inputDir` defaults to `/root/testdata/sf0.001`, `warehouse` to
  * `./spark-warehouse/jobs`. Run order matters: Fact guards on
  * Ingestion+Dimension outputs, Aggregation/Quality on Fact — a
  * missing prerequisite logs an error naming the job to run and exits
  * 1 (the reference's semantics), it never half-builds.
  */
private[jobs] object JobEnv {
  def inputDir(args: Array[String]): String =
    args.headOption.getOrElse("/root/testdata/sf0.001")
  def warehouse(args: Array[String]): String =
    args.drop(1).headOption.getOrElse("spark-warehouse/jobs")

  /** Session + IO for one job main; `body` THROWS on guard failure —
    * the main translates that to log + exit(1), so the guard logic
    * itself stays testable without a SecurityManager.
    */
  def runMain(appName: String, args: Array[String])
             (body: (SparkSession, String, TableIO) => Unit): Unit = {
    val logger = LoggerFactory.getLogger(appName)
    val spark = SessionFactory.build(appName)
    try {
      body(spark, inputDir(args), TableIO(spark, warehouse(args)))
      logger.info(s"$appName completed successfully")
    } catch {
      case e: Throwable =>
        logger.error(s"$appName failed", e)
        spark.stop()
        sys.exit(1)
    } finally spark.stop()
  }

  def require_(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)
}

/** Job 1: raw lineitem parquet -> cleaned/enriched `lineitem_clean`,
  * partitioned append (the reference's pickup_date partitioning,
  * re-keyed to ship_year/ship_month: bounded directory count at any
  * scale — a date-keyed layout makes one dir per day, fine too, but
  * the month key keeps small-SF fixtures from fragmenting).
  */
object IngestionJob {
  val Target = "default.lineitem_clean"

  def run(spark: SparkSession, inputDir: String, io: TableIO): Unit = {
    val raw = Tables.lineitem(spark, inputDir)
    val cleaned = Ingestion.cleanLineitem(raw)
    // the reference counts rows to guard the empty ingest
    // (IngestionJob.scala:39-43); one count action is the honest price
    // of refusing to commit an empty table version
    JobEnv.require_(!cleaned.isEmpty, s"no valid records under $inputDir — not committing")
    // hash write distribution, the default of Iceberg's Spark writer
    // for a partitioned table: one file per partition, written by
    // parallel tasks instead of one task writing every partition
    io.setWriteDistribution(Target, "hash")
    io.append(cleaned, Target, partitionCols = Seq("ship_year", "ship_month"))
  }

  def main(args: Array[String]): Unit =
    JobEnv.runMain("graft-ingestion-job", args)(run)
}

/** Job 2: synthetic dimensions — nation-role location dim from the
  * customer/supplier sources, calendar dim spanning the cleaned
  * table's ship dates (guards on Job 1's output like the reference's
  * DimensionJob guards the raw table).
  */
object DimensionJob {
  val LocationTarget = "default.location_dim"
  val DateTarget = "default.date_dim"

  def run(spark: SparkSession, inputDir: String, io: TableIO): Unit = {
    JobEnv.require_(io.tableExists(IngestionJob.Target),
      s"${IngestionJob.Target} missing — run graft.jobs.IngestionJob first")
    io.overwrite(
      Dimensions.locationDim(Tables.customer(spark, inputDir), Tables.supplier(spark, inputDir)),
      LocationTarget)
    io.overwrite(
      Dimensions.dateDim(spark, io.read(IngestionJob.Target), "ship_date"),
      DateTarget)
  }

  def main(args: Array[String]): Unit =
    JobEnv.runMain("graft-dimension-job", args)(run)
}

/** Job 3: the wide fact build — cleaned lineitem joined to orders and
  * the role-played dimensions (all broadcast; plan pinned in
  * PlanQualitySpec), overwriting `lineitem_fact`.
  */
object FactJob {
  val Target = "default.lineitem_fact"

  def run(spark: SparkSession, inputDir: String, io: TableIO): Unit = {
    JobEnv.require_(io.tableExists(IngestionJob.Target),
      s"${IngestionJob.Target} missing — run graft.jobs.IngestionJob first")
    JobEnv.require_(io.tableExists(DimensionJob.DateTarget),
      s"${DimensionJob.DateTarget} missing — run graft.jobs.DimensionJob first")
    val fact = Fact.build(
      io.read(IngestionJob.Target),
      Tables.orders(spark, inputDir),
      Tables.customer(spark, inputDir),
      Tables.supplier(spark, inputDir),
      Tables.nation(spark, inputDir))
    io.overwrite(fact, Target)
  }

  def main(args: Array[String]): Unit =
    JobEnv.runMain("graft-fact-job", args)(run)
}

/** Job 4: analytical summary tables off the fact — the pair/day
  * rollup, the calendar rollup, and the top-pairs feed (reference:
  * AggregationJob writes its three summaries the same way).
  */
object AggregationJob {
  val PairTarget = "default.pair_daily_summary"
  val TimeTarget = "default.time_summary"
  val TopTarget = "default.top_pairs"

  def run(spark: SparkSession, inputDir: String, io: TableIO): Unit = {
    JobEnv.require_(io.tableExists(FactJob.Target),
      s"${FactJob.Target} missing — run graft.jobs.FactJob first")
    val fact = io.read(FactJob.Target)
    io.overwrite(Aggregations.pairDailySummary(fact), PairTarget)
    io.overwrite(Aggregations.timeSummary(fact), TimeTarget)
    io.overwrite(Aggregations.topPairs(fact), TopTarget)
  }

  def main(args: Array[String]): Unit =
    JobEnv.runMain("graft-aggregation-job", args)(run)
}

/** Job 5: data-quality gate over the fact — the reference's three
  * post-hoc checks as ONE single-pass aggregate (Quality.run), logged
  * clean/dirty like DataQualityJob.scala:42-46. Returns the metrics
  * row for callers; the main exits 0 either way (quality findings are
  * a report, not a crash) and 1 only on failure to evaluate.
  */
object DataQualityJob {
  def run(spark: SparkSession, inputDir: String, io: TableIO): DataFrame = {
    JobEnv.require_(io.tableExists(FactJob.Target),
      s"${FactJob.Target} missing — run graft.jobs.FactJob first")
    Quality.run(io.read(FactJob.Target), Quality.factChecks)
  }

  def main(args: Array[String]): Unit =
    JobEnv.runMain("graft-quality-job", args) { (spark, in, io) =>
      val logger = LoggerFactory.getLogger("graft-quality-job")
      val row = run(spark, in, io).collect().head
      val violating = row.schema.fieldNames.filterNot(_ == "total_rows")
        .map(n => n -> row.getAs[Long](n)).filter(_._2 > 0L)
      if (violating.isEmpty) logger.info("All checks passed — data looks clean!")
      else violating.foreach { case (n, c) =>
        logger.warn(s"quality issue: $n = $c rows — review upstream jobs")
      }
    }
}
