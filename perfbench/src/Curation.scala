package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `curation_queries`: read-only LLM-data curation queries from
  * `graft.SparkEntry.queries`, two per operator family; each pass runs
  * them in an order shuffled by the seed. Each result is fingerprinted against
  * the one recorded by `perfbench/record.py`.
  */
final class Curation(spark: SparkSession, ctx: Ctx) extends Workload {
  private val rng = new scala.util.Random(ctx.seed)
  private val queries = graft.SparkEntry.queries
  private var expected = Map.empty[String, Expected]

  def prepare(): Unit = expected = Expected.load(ctx.expectedDir, "curation", ctx.dataDir)

  /** JIT keeps speeding the queries up over the first passes. */
  override def warmUp(trace: Trace): Unit = (0 until 4).foreach(_ => iteration(trace))

  def iteration(trace: Trace): Seq[Op] =
    rng.shuffle(Curation.Queries.keys.toSeq.sorted).map { name =>
      val (result, ms) = Stats.timeMs {
        try Some(trace.span(s"query.$name")(collect(queries(name)(spark, ctx.dataDir))))
        catch { case e: Exception => ctx.failure(s"$name: $e"); None }
      }
      Curation.clearCaches(spark)
      Op(name, ms, result.exists { case (cols, rows) => check(name, cols, rows) })
    }

  private def collect(df: DataFrame): (Seq[String], Array[Row]) = (df.columns.toSeq, df.collect())

  private def check(name: String, cols: Seq[String], rows: Array[Row]): Boolean = {
    val exp = expected(name)
    val got = Fingerprint.ofRows(Fingerprint.sortedRows(rows.toSeq, cols))
    val ok = if (exp.countOnly) got.rows == exp.print.rows else got == exp.print
    if (!ok) ctx.failure(s"$name: got $got, recorded ${exp.print}")
    ok
  }

  def layers(trace: Trace, traced: Seq[Seq[Op]]): Map[String, Double] = {
    val ops = traced.flatten
    Curation.Families.map { f =>
      s"family.${f}_s" -> ops.filter(o => Curation.Queries(o.kind) == f).map(_.ms).sum / 1e3 / traced.size
    }.toMap ++ KernelSweep.run(spark, ctx.dataDir)
  }

  /** Fingerprints of this build's results, for `perfbench/record.py`. */
  def record(): Map[String, Map[String, Any]] =
    Curation.Queries.keys.toSeq.sorted.map { name =>
      val (cols, rows) = collect(queries(name)(spark, ctx.dataDir))
      Curation.clearCaches(spark)
      val p = Fingerprint.ofRows(Fingerprint.sortedRows(rows.toSeq, cols))
      name -> Map("columns" -> cols.sorted, "rows" -> p.rows, "hash" -> p.hash)
    }.toMap
}

object Curation {
  val Families: Seq[String] = Seq("dedup", "similarity", "text", "multimodal", "sampling")

  /** Query -> operator family: two per family, the fastest of each at
    * sf0.01 that together cover minhash, ANN, BPE, media decode,
    * sampling and sketches — three passes of them fit a run.
    */
  val Queries: Map[String, String] = Map(
    "q11_dedup_exact" -> "dedup",
    "q12_dedup_minhash" -> "dedup",
    "q19_ann_bruteforce" -> "similarity",
    "q71_ann_quantized" -> "similarity",
    "q15_text_stats" -> "text",
    "q158_bpe_token_count" -> "text",
    "q114_image_decode" -> "multimodal",
    "q134_video_decode" -> "multimodal",
    "q100_hll_distinct" -> "sampling",
    "q110_exact_k_sample" -> "sampling")

  /** Every query starts with an empty cache, as in `graft.Bench`. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
