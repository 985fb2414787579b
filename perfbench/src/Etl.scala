package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.io.TableIO
import graft.jobs.{AggregationJob, DataQualityJob, DimensionJob, FactJob, IngestionJob}

/** `etl_pipeline`: the reference's five jobs in order into a fresh
  * warehouse. The input is the fixed fixture, so the seed is unused.
  * Each pipeline's seven tables and quality row are fingerprinted
  * against the DuckDB oracle's, recorded by `perfbench/record.py`.
  */
final class Etl(spark: SparkSession, ctx: Ctx) extends Workload {
  private val expected = Expected.load(ctx.expectedDir, "etl", ctx.dataDir)
  private var runs = 0

  def prepare(): Unit = ()

  /** Two unchecked pipelines: the first one in a JVM runs cold. */
  override def warmUp(trace: Trace): Unit = (0 until 2).foreach(_ => pipeline(trace, check = false))

  def iteration(trace: Trace): Seq[Op] = Seq(pipeline(trace, check = true))

  private def pipeline(trace: Trace, check: Boolean): Op = {
    runs += 1
    val wh = ctx.work(s"etl$runs")
    val io = TableIO(spark, wh.toString)
    var quality: org.apache.spark.sql.Row = null
    val (ok, ms) = Stats.timeMs {
      try trace.span("pipeline") {
        trace.span("jobs.ingestion")(IngestionJob.run(spark, ctx.dataDir, io))
        trace.span("jobs.dimension")(DimensionJob.run(spark, ctx.dataDir, io))
        trace.span("jobs.fact")(FactJob.run(spark, ctx.dataDir, io))
        trace.span("jobs.aggregation")(AggregationJob.run(spark, ctx.dataDir, io))
        quality = trace.span("jobs.quality")(DataQualityJob.run(spark, ctx.dataDir, io).collect().head)
        true
      } catch { case e: Exception => ctx.failure(s"pipeline: $e"); false }
    }
    val correct = ok && (!check || verify(io, quality))
    org.apache.commons.io.FileUtils.deleteDirectory(wh.toFile)
    Op("pipeline", ms, correct)
  }

  private def verify(io: TableIO, quality: org.apache.spark.sql.Row): Boolean =
    expected.forall { case (name, exp) =>
      val got =
        if (name == Etl.QualityRow) Fingerprint.ofRows(Iterator(org.apache.spark.sql.Row.fromSeq(
          exp.columns.sorted.map(c => quality.get(quality.fieldIndex(c))))))
        else Fingerprint.of(io.read(name), exp.columns)
      val same = got == exp.print
      if (!same) ctx.failure(s"$name: got $got, oracle ${exp.print}")
      same
    }

  def layers(trace: Trace, traced: Seq[Seq[Op]]): Map[String, Double] =
    Etl.Jobs.map(j => s"jobs.${j}_s" -> trace.spanSeconds(s"jobs.$j") / traced.size).toMap ++
      Map("jobs.cover_pct" -> 100.0 * Etl.Jobs.map(j => trace.spanSeconds(s"jobs.$j")).sum /
        trace.spanSeconds("pipeline"))
}

object Etl {
  val Jobs: Seq[String] = Seq("ingestion", "dimension", "fact", "aggregation", "quality")
  val QualityRow = "quality"

  /** DuckDB oracle SQL per output, from `graft.OracleQueries` (q01-q08).
    * The date dimension spans the cleaned table's ship dates, where
    * q03 spans order dates, so its SQL is re-pointed at them.
    */
  def oracleSql: Map[String, String] = {
    val q = graft.OracleQueries.all
    val clean = graft.OracleQueries.cleanLineitemSql
    Map(
      IngestionJob.Target -> q("q01_clean_project"),
      DimensionJob.LocationTarget -> q("q02_location_dim"),
      DimensionJob.DateTarget -> q("q03_date_dim")
        .replace("o_orderdate", "ship_date").replace("FROM orders", s"FROM ($clean)"),
      FactJob.Target -> q("q04_fact_join"),
      AggregationJob.PairTarget -> q("q05_pair_daily_summary"),
      AggregationJob.TimeTarget -> q("q06_time_summary"),
      AggregationJob.TopTarget -> q("q07_top_pairs"),
      QualityRow -> q("q08_quality_checks"))
  }
}

/** A recorded fingerprint and the columns it covers. */
final case class Expected(columns: Seq[String], print: Fingerprint.Print, countOnly: Boolean)

object Expected {
  /** `<expectedDir>/<kind>_<fixture>.json`: name -> {columns, rows, hash, count_only}. */
  def load(dir: java.nio.file.Path, kind: String, dataDir: String): Map[String, Expected] = {
    import scala.jdk.CollectionConverters._
    val file = dir.resolve(s"${kind}_${java.nio.file.Paths.get(dataDir).getFileName}.json")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(file))
    tree.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(
        v.get("columns").elements().asScala.map(_.asText()).toSeq,
        Fingerprint.Print(v.get("rows").asLong(), v.get("hash").asText()),
        Option(v.get("count_only")).exists(_.asBoolean()))
    }.toMap
  }
}
