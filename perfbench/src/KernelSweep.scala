package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-row cost of each `graft_*` function that `GraftExtensions`
  * registers: the kernel over its natural input column into a `noop`
  * sink, minus a bare projection of the same columns. Inputs are the
  * fixture's documents and embeddings, replicated and cached so one
  * call covers enough rows to rise above the per-job floor.
  */
object KernelSweep {
  private val Reps = 3

  /** function -> (input, kernel expression, bare columns); an
    * aggregate's bare side is `count(*)` over the same grouping.
    */
  private val Recipes: Map[String, (String, String, Seq[String])] = Map(
    "graft_cosine" -> ("vecs", "graft_cosine(vec, vec2)", Seq("vec", "vec2")),
    "graft_dot" -> ("vecs", "graft_dot(vec, vec2)", Seq("vec", "vec2")),
    "graft_cosine_many" -> ("vecs", "graft_cosine_many(mat, vec)", Seq("mat", "vec")),
    "graft_minhash" -> ("docs", "graft_minhash(toks, 64)", Seq("toks")),
    "graft_shingle_hashes" -> ("docs", "graft_shingle_hashes(text, 5)", Seq("text")),
    "graft_wordgram_hashes" -> ("docs", "graft_wordgram_hashes(lt, 3)", Seq("lt")),
    "graft_jaccard_sorted" -> ("docs", "graft_jaccard_sorted(sh, sh2)", Seq("sh", "sh2")),
    "graft_minhash_md5_bands" -> ("docs", "graft_minhash_md5_bands(toks, 32, 16)", Seq("toks")),
    "graft_minhash_hashed" -> ("docs", "graft_minhash_hashed(sh, 64)", Seq("sh")),
    "graft_winnow" -> ("docs", "graft_winnow(toks, 5, 4)", Seq("toks")),
    "graft_repstats" -> ("docs", "graft_repstats(toks)", Seq("toks")),
    "graft_simhash" -> ("docs", "graft_simhash(toks, 64, true)", Seq("toks")),
    "graft_simhash_shingled" -> ("docs", "graft_simhash_shingled(text, 5, 64)", Seq("text")),
    "graft_lsh_bands" -> ("docs", "graft_lsh_bands(mh, 4)", Seq("mh")),
    "graft_textcounts" -> ("docs", "graft_textcounts(text)", Seq("text")),
    "graft_bpe_count" -> ("docs", "graft_bpe_count(text)", Seq("text")),
    "graft_pln" -> ("docs", "graft_pln(id + 1)", Seq("id")),
    "graft_lp_nano" -> ("docs", "graft_lp_nano(n_chars + 1, id + 1)", Seq("n_chars", "id")),
    "graft_bloom_contains" -> ("docs", "graft_bloom_contains(unhex('%s'), lt)", Seq("lt")),
    "graft_bloom_agg" -> ("docs", "graft_bloom_agg(lt, 1000, 0.01)", Nil),
    "graft_topk" -> ("docs", "graft_topk(cast(n_chars AS DOUBLE), id, id, 10)", Nil))

  def run(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val docs = spark.sql("SELECT id AS r FROM range(40)")
      .crossJoin(graft.tables.Tables.documents(spark, dataDir))
      .selectExpr("doc_id + r * 1000000 AS id", "text", "lower(text) AS lt",
        "split(lower(text), ' ') AS toks", "n_chars")
      .selectExpr("*", "graft_shingle_hashes(text, 5) AS sh", "graft_shingle_hashes(text, 4) AS sh2")
      .selectExpr("*", "graft_minhash_hashed(sh, 64) AS mh")
    // the probe side's filter, built once and passed as a literal
    val bloom = docs.selectExpr("hex(graft_bloom_agg(lt, 1000, 0.01))").head().getString(0)
    val inputs = Map(
      "docs" -> docs,
      "vecs" -> spark.sql("SELECT id AS r FROM range(100)")
        .crossJoin(graft.tables.Tables.embeddings(spark, dataDir))
        .selectExpr("vec_id + r * 1000000 AS id", "CAST(embedding AS ARRAY<DOUBLE>) AS vec")
        .selectExpr("*", "reverse(vec) AS vec2")
        .selectExpr("*", "array(vec2, vec, reverse(vec2)) AS mat"))
      .map { case (k, df) => k -> df.repartition(Main.Cores).cache() }
    val rows = inputs.map { case (k, df) => k -> df.count() }
    Main.log(s"kernel inputs cached: $rows")
    val registered = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    try Recipes.filter(r => registered.contains(r._1)).map { case (fn, (in, kernel, bare)) =>
      val df = inputs(in)
      val (k, b): (DataFrame, DataFrame) =
        if (bare.isEmpty)
          (df.groupBy(df("id") % 64).agg(org.apache.spark.sql.functions.expr(kernel)),
            df.groupBy(df("id") % 64).count())
        else (df.selectExpr(kernel.replace("%s", bloom)), df.selectExpr(bare: _*))
      val (kMs, bMs) = (0 until Reps).map(_ => (noop(k), noop(b))).unzip
      Main.log(f"kernel $fn: ${Stats.median(kMs)}%.1f ms vs bare ${Stats.median(bMs)}%.1f ms over ${rows(in)} rows")
      s"kernel.$fn.ns_per_row" -> (Stats.median(kMs) - Stats.median(bMs)) * 1e6 / rows(in)
    }
    finally inputs.values.foreach(_.unpersist(blocking = true))
  }

  private def noop(df: DataFrame): Double =
    Stats.timeMs(df.write.format("noop").mode("overwrite").save())._2
}
