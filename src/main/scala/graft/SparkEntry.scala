package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SetSimilarity}
import graft.events.Events
import graft.io.{Ref, TableCatalog, TableIO}
import graft.pipeline.{Aggregations, Dimensions, Fact, Ingestion, Quality}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.tables.Tables
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator group from SURVEY.md §2,
  * expressed over the harness testdata; `oracleSql` carries the
  * DuckDB-equivalent SQL (see OracleQueries for the parity rules).
  */
object SparkEntry {

  /** Flagship: the full reference-shaped pipeline end-to-end through
    * the table layer (ingest -> dims -> fact -> aggregates -> quality),
    * on sf0.001. Exercises every §2 category incl. the partitioned
    * append sink (S4), overwrite sink (S5), existence guard (S6), and
    * read-back (S2). Returns the top-pairs summary read back from the
    * warehouse; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    val io = TableIO(spark, wh)

    // Ingestion (reference: IngestionJob) — partitioned append
    val clean = Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir))
    io.append(clean.repartition(col("ship_year")), "default.trips_raw", Seq("ship_year"))

    // Dimensions (reference: DimensionJob) — overwrite
    val locDim = Dimensions.locationDim(Tables.customer(spark, sfDir), Tables.supplier(spark, sfDir))
    io.overwrite(locDim, "default.location_dim")
    val dateDim = Dimensions.dateDim(spark, Tables.orders(spark, sfDir), "o_orderdate")
    io.overwrite(dateDim, "default.date_dim")

    // Fact (reference: FactJob) — guarded on upstream existence
    require(io.tableExists("default.trips_raw"), "upstream table missing")
    val fact = Fact.build(
      io.read("default.trips_raw"),
      Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir)
    )
    io.append(fact.repartition(col("order_year")), "default.fact", Seq("order_year"))

    // Aggregations + quality (reference: AggregationJob, DataQualityJob)
    val factBack = io.read("default.fact")
    io.overwrite(Aggregations.pairDailySummary(factBack), "default.pair_daily")
    io.overwrite(Aggregations.timeSummary(factBack), "default.time_summary")
    io.overwrite(Aggregations.topPairs(factBack), "default.top_pairs")
    Quality.run(factBack, Quality.factChecks).collect() // QC pass (reference: DataQualityJob)

    io.read("default.top_pairs")
  }

  private def fact(s: SparkSession, dir: String): DataFrame =
    Fact.build(
      Ingestion.cleanLineitem(Tables.lineitem(s, dir)),
      Tables.orders(s, dir),
      Tables.customer(s, dir),
      Tables.supplier(s, dir),
      Tables.nation(s, dir)
    )

  /** One entry per implemented operator group from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1+P1-P3+F1-F3+X1-X8: scan -> clean -> enrich
    "q01_clean_project" -> ((s, dir) =>
      Ingestion.cleanLineitem(Tables.lineitem(s, dir)).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("ship_date"), col("ship_year"), col("ship_month"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("revenue"), col("unit_price"), col("price_band"),
        col("l_returnflag"), col("l_linestatus")
      )),
    // U1+U2+F4-F8+X6-X8: union-distinct dimension synthesis
    "q02_location_dim" -> ((s, dir) =>
      Dimensions.locationDim(Tables.customer(s, dir), Tables.supplier(s, dir))),
    // S3+A4+X9+X10: range-sourced date dimension w/ driver round-trip
    "q03_date_dim" -> ((s, dir) =>
      Dimensions.dateDim(s, Tables.orders(s, dir), "o_orderdate")),
    // J1+J2+P4+P5: role-played dimensional left-outer joins
    "q04_fact_join" -> ((s, dir) => fact(s, dir)),
    // A1: multi-key hash aggregate, 5 aggregates
    "q05_pair_daily_summary" -> ((s, dir) => Aggregations.pairDailySummary(fact(s, dir))),
    // A2: calendar-key aggregate
    "q06_time_summary" -> ((s, dir) => Aggregations.timeSummary(fact(s, dir))),
    // A3+O1: pair aggregate -> global top-k (TakeOrderedAndProject)
    "q07_top_pairs" -> ((s, dir) => Aggregations.topPairs(fact(s, dir))),
    // A6: data-quality checks folded into one scan
    "q08_quality_checks" -> ((s, dir) => Quality.run(fact(s, dir), Quality.factChecks)),
    // A4+A5+A7+A8: global min/max/count/countDistinct/avg
    "q09_global_stats" -> ((s, dir) =>
      Tables.orders(s, dir).agg(
        min(to_date(col("o_orderdate"))).as("min_order_date"),
        max(to_date(col("o_orderdate"))).as("max_order_date"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(to_date(col("o_orderdate"))).as("n_order_dates"),
        graft.functions.ExactAgg.davg(col("o_totalprice"), 2).as("avg_totalprice")
      )),
    // §2.7 note: per-group top-k. NOT a window rank: l_returnflag has
    // 3 distinct values, so Window.partitionBy(l_returnflag) would
    // sort the whole input in at most 3 tasks regardless of cluster
    // size. graft_topk (native TypedImperativeAggregate) reduces each
    // scan partition to <=k rows per group map-side; the exchange
    // carries groups x partitions x k rows and the merge is O(k).
    "q10_window_topk" -> ((s, dir) =>
      Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .groupBy(col("l_returnflag"))
        .agg(expr("graft_topk(revenue, l_orderkey, CAST(l_linenumber AS INT), 3)").as("top"))
        .select(col("l_returnflag"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(
          col("l_returnflag"),
          col("e.id1").as("l_orderkey"),
          col("e.id2").as("l_linenumber"),
          col("e.score").as("revenue"),
          (col("pos") + 1).cast("int").as("rn")
        )),

    // ---- training-data pipeline extensions (documents/embeddings/events) ----

    // Exact dedup: content-hash groups, representative = min doc_id
    "q11_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    // MinHash signatures + LSH band keys, scalar rows so the harness
    // can canonicalize them; md5-portable hash -> full DuckDB oracle
    // (the native xxhash64 signature path is verified through q13)
    "q12_dedup_minhash" -> ((s, dir) =>
      Dedup.portableMinhashBands(Tables.documents(s, dir))),
    // Near-dup pairs: LSH candidates verified by exact n-gram Jaccard
    "q13_dedup_neardup" -> ((s, dir) =>
      Dedup.nearDuplicates(Tables.documents(s, dir), threshold = 0.7)),
    // SimHash fingerprints: portable md5-shingle variant so DuckDB can
    // recompute every bit (the xxhash64 token variant is spec-pinned)
    "q14_dedup_simhash" -> ((s, dir) =>
      Dedup.portableSimhash(Tables.documents(s, dir)).select(col("doc_id"), col("simhash"))),
    // Near-dup clusters: connected components over the pair graph
    // (min-label propagation); every doc gets a cluster_id
    "q40_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(Tables.documents(s, dir), threshold = 0.7)),
    // Benchmark decontamination: drop corpus docs sharing any word
    // 5-gram with the (hash-bucket-defined) benchmark set
    "q41_decontaminate" -> ((s, dir) =>
      graft.text.Contamination.decontaminate(
        Tables.documents(s, dir).select("doc_id", "text", "lang", "source"))
        .select("doc_id", "lang", "source")),
    // Gopher-style repetition signals: type/token ratio, duplicate
    // trigram ratio, top-single-token mass — one shuffle-free projection
    "q42_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir))),
    // Sharded sequence packing: doc -> (shard, seq_id, seq_offset) for
    // fixed 2048-token training sequences; parallel unit = shard
    "q43_sequence_pack" -> ((s, dir) =>
      graft.text.Packing.sequencePack(Tables.documents(s, dir))),
    // Overlapping char-window chunking (RAG-style), 200 chars / 150 stride
    "q44_chunking" -> ((s, dir) =>
      graft.text.Packing.chunk(Tables.documents(s, dir))),
    // Per-document text analysis: tokens, quality, language-ID,
    // fingerprint. All counters come from ONE `graft_textcounts` scan
    // (the composed regex form ran nine regex passes per document —
    // kept in TextAnalysis as the parity reference); ratios and the
    // argmax consume the struct fields with the same IEEE op order, so
    // results are bit-identical. CollapseProject keeps the struct
    // hoisted: it is non-cheap and referenced by every output column.
    "q15_text_stats" -> ((s, dir) => {
      val t = col("text")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      Tables.documents(s, dir)
        .select(col("doc_id"), t,
          expr("graft_textcounts(text)").as("tc"), length(t).as("len"))
        .select(
          col("doc_id"),
          col("tc.n_tok").as("n_tokens"),
          col("tc.n_retok").as("n_tokens_re"),
          col("tc.n_punct").as("n_punct"),
          (col("tc.n_stop").cast("double") / col("tc.n_tok")).as("stopword_ratio"),
          (col("tc.n_nonws").cast("double") / col("tc.n_tok")).as("avg_token_len"),
          TextAnalysis.qualityFromCounts(
            col("tc.n_tok"), col("tc.n_punct"), col("tc.n_stop"), col("len")).as("quality"),
          TextAnalysis.langIdFromCounts(langs.map(l => l -> col(s"tc.c_$l"))).as("lang_pred"),
          TextAnalysis.fingerprint(t).as("fingerprint")
        )
    }),
    // Corpus rollup by predicted language (exact int sums, min/max
    // quality). Same one-pass counter struct as q15 feeding the argmax
    // chain and the quality formula.
    "q16_text_lang_summary" -> ((s, dir) => {
      val t = col("text")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      Tables.documents(s, dir)
        .select(expr("graft_textcounts(text)").as("tc"), length(t).as("len"))
        .select(
          TextAnalysis.langIdFromCounts(langs.map(l => l -> col(s"tc.c_$l"))).as("lang_pred"),
          col("tc.n_tok").as("n_tokens"),
          TextAnalysis.qualityFromCounts(
            col("tc.n_tok"), col("tc.n_punct"), col("tc.n_stop"), col("len")).as("quality")
        )
        .groupBy(col("lang_pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality")
        )
    }),
    // Hourly event rollup with JSON property extraction
    "q17_events_hourly" -> ((s, dir) => Events.hourly(Tables.events(s, dir))),
    // Gap-based sessionization -> per-user session stats
    "q18_events_sessions" -> ((s, dir) => Events.sessionStats(Tables.events(s, dir))),
    // Native session_window operator (one aggregate, no window funcs)
    "q32_events_session_window" -> ((s, dir) =>
      Events.sessionWindowStats(Tables.events(s, dir))),
    // Set algebra the reference lacks: INTERSECT / EXCEPT with
    // set semantics (HashAggregate-backed, same shuffle shape as
    // distinct)
    "q36_set_ops" -> ((s, dir) => {
      val custNations = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nk"))
      val suppNations = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nk"))
      custNations.intersect(suppNations).withColumn("src", lit("both"))
        .unionAll(custNations.except(suppNations).withColumn("src", lit("cust_only")))
    }),
    // Semi/anti joins the reference lacks: suppliers with at least one
    // high-value line (semi) and with none (anti) — no payload columns
    // cross the join, just existence
    "q37_semi_anti_join" -> ((s, dir) => {
      val hot = Ingestion.cleanLineitem(Tables.lineitem(s, dir)).filter(col("revenue") > 80000)
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      supp.join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .withColumn("has_hot_line", lit(true))
        .unionAll(
          supp.join(hot, col("s_suppkey") === col("l_suppkey"), "left_anti")
            .withColumn("has_hot_line", lit(false)))
    }),

    // As-of join: each event picks up the user's latest order at or
    // before the event time (union+window formulation — one shuffle on
    // the key, no range-join blowup; right side pre-deduped per
    // (custkey, orderdate) with max-orderkey tie-break so the match is
    // deterministic on both engines)
    "q38_asof_join" -> ((s, dir) => {
      val events = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val wDedup = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val orders = Tables.orders(s, dir)
        .withColumn("__rn", row_number().over(wDedup)).filter(col("__rn") === 1).drop("__rn")
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey").as("last_orderkey"), col("o_totalprice").as("last_totalprice"))
      graft.operators.Joins.asOfJoin(
        events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayload = Seq("last_orderkey", "last_totalprice"))
    }),
    // Deterministic stratified sampling: md5-bucket per doc_id, per-
    // language keep rates (downsample dominant en, keep rare strata) —
    // a scalar scan predicate, reproducible across engines and appends
    "q39_stratified_sample" -> ((s, dir) =>
      graft.sampling.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang", "source"),
        strataCol = "lang", idCol = "doc_id",
        fractions = Map("en" -> 0.10, "zh" -> 0.50), defaultFraction = 0.25)
        .withColumn("bucket", graft.sampling.Sampling.portableBucket("doc_id"))),

    // PIVOT: returnflag columns per ship year (explicit value list so
    // the schema is static — no extra distinct-values job)
    "q34_pivot_returnflag" -> ((s, dir) =>
      Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .groupBy(col("ship_year"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(graft.functions.ExactAgg.dsum(col("revenue"), 4))
        .select(col("ship_year"), col("A").as("rev_a"), col("N").as("rev_n"), col("R").as("rev_r"))),

    // q34's inverse: wide -> long reshape via the NATIVE Dataset
    // .unpivot (Spark's melt — an Expand node, one scan, no join or
    // union replay of the input). Metric values are exact-decimal
    // aggregates cast once at the edge, per the parity rules.
    "q117_unpivot_metrics" -> ((s, dir) =>
      Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .groupBy(col("l_returnflag"))
        .agg(
          graft.functions.ExactAgg.dsum(col("l_quantity"), 2).as("sum_qty"),
          graft.functions.ExactAgg.dsum(col("revenue"), 4).as("sum_revenue"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_revenue"), col("n_rows")),
          "metric", "value")),

    // Session write-audit-publish (Iceberg's spark.wap.branch): with
    // the conf set, the UNCHANGED q46-style MERGE and a DELETE land as
    // BRANCH commits — main stays at the pre-DML snapshot (asserted:
    // audit isolation is the operator's contract, not a side effect)
    // until fast_forward publishes the audited state metadata-only.
    // The result is post-publish main; the oracle replays the DML.
    "q118_wap_branch_dml" -> ((s, dir) => {
      val cname = "gwq"
      val io = catalogIO(s, cname, "graft_wapq_")
      io.overwrite(
        Tables.supplier(s, dir).filter(col("s_suppkey") <= 80)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal").as("balance")),
        "default.supp_wap")
      val vMain = io.catalog.currentVersion("default.supp_wap").get
      // reruns share the session warehouse: a leftover audit branch
      // would pin a stale fork — each run starts its audit fresh
      io.dropBranch("default.supp_wap", "audit")
      Tables.supplier(s, dir).filter(col("s_suppkey") > 40)
        .select(col("s_suppkey"), col("s_name"), (col("s_acctbal") * 0.5).as("delta"))
        .createOrReplaceTempView(s"wap_src_$cname")
      s.conf.set("spark.wap.branch", "audit")
      try {
        s.sql(
          s"""MERGE INTO $cname.default.supp_wap t USING wap_src_$cname s
             |ON t.s_suppkey = s.s_suppkey
             |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
             |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_name, balance)
             |  VALUES (s.s_suppkey, s.s_name, s.delta)""".stripMargin)
        s.sql(s"DELETE FROM $cname.default.supp_wap WHERE s_suppkey BETWEEN 50 AND 60")
      } finally s.conf.unset("spark.wap.branch")
      s.catalog.dropTempView(s"wap_src_$cname")
      // the audit gate: two DML commits later, main is still pristine
      require(io.catalog.currentVersion("default.supp_wap").contains(vMain),
        "WAP isolation violated: branch DML advanced main")
      io.fastForward("default.supp_wap", "audit")
      io.read("default.supp_wap")
    }),

    // Zero-read CDC into an AUDIT BRANCH (MOR-on-branch — the WAP
    // pattern with equality-delete write costs): a position delete and
    // a full CDC batch stack on the branch chain's props while main
    // stays byte-untouched (asserted: version pinned); the branch read
    // resolves deletes-MERGED through the SQL bridge (VERSION AS OF
    // '<branch>' pins the dirty head), and fast_forward publishes the
    // files WITH their pending entries — main applies on its own
    // cadence. Both states hash-oracled against a pure-SQL replay.
    "q127_branch_mor_cdc" -> ((s, dir) => {
      val cname = "gbm"
      val io = catalogIO(s, cname, "graft_bmor_")
      val t = "default.supp_bm"
      val br = "audit"
      io.overwrite(Tables.supplier(s, dir).filter(col("s_suppkey") <= 6)
        .select(col("s_suppkey").cast("bigint").as("skey"),
          col("s_name"), col("s_acctbal").cast("decimal(12,2)").as("bal")), t)
      val vMain = io.catalog.currentVersion(t).get
      // reruns share the session warehouse: a leftover audit branch
      // would pin a stale fork — each run starts its audit fresh
      io.dropBranch(t, br)
      val (_, nDel) = io.deleteWhereMOR(t, col("skey").isin(1L, 2L), ref = Ref.Branch(br))
      require(nDel == 2, s"branch MOR delete matched $nDel rows, expected 2")
      val batch = Tables.supplier(s, dir).filter(col("s_suppkey").between(4, 8))
        .select(col("s_suppkey").cast("bigint").as("skey"),
          concat(lit("b_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal"),
          when(col("s_suppkey") % 2 === 0, lit("U")).otherwise(lit("D")).as("op"))
        .unionByName(Tables.supplier(s, dir).filter(col("s_suppkey") <= 2)
          .select((col("s_suppkey").cast("bigint") + 100).as("skey"),
            concat(lit("n_"), col("s_name")).as("s_name"),
            col("s_acctbal").cast("decimal(12,2)").as("bal"), lit("U").as("op")))
      io.cdcApplyMOR(t, batch, Seq("skey"), "op", ref = Ref.Branch(br))
      require(io.catalog.currentVersion(t).contains(vMain),
        "branch CDC leaked to main: version advanced")
      // pinned at the dirty branch head (analysis-time resolution)
      val branchState = s.sql(
        s"SELECT 'branch' AS state, skey, s_name, CAST(bal AS DOUBLE) AS bal " +
          s"FROM $cname.$t VERSION AS OF '$br'")
      io.fastForward(t, br)
      val vPub = io.catalog.currentVersion(t).get
      require(io.catalog.pendingDeletes(t, vPub).nonEmpty,
        "publish must carry the branch's pending delete entries to main")
      io.applyDeletes(t)
      // final outputs cast DECIMAL bal to DOUBLE (exact for cents
      // values): the driver's hasher canonicalizes DECIMAL differently
      // between the Spark and DuckDB sides — decimals stay internal
      val published = s.sql(
        s"SELECT 'published' AS state, skey, s_name, CAST(bal AS DOUBLE) AS bal FROM $cname.$t")
      // deterministic output: the union's physical row order is
      // scheduling-dependent — 16 rows, the sort is free
      branchState.unionByName(published)
        .orderBy(col("state"), col("skey"), col("s_name"), col("bal"))
    }),

    // The graft table as a STREAMING SOURCE (spark.readStream.table —
    // Iceberg/Delta's table-as-stream): two event batches land as
    // appends, a micro-batch stream follows the snapshot chain from
    // the pre-append baseline (offset = version, checkpointed), and
    // every served row is drained into a results table whose content
    // is hash-oracled against the events replay. Rerun-safe: each run
    // streams only its own appends (startingVersion = the run's
    // baseline) into a fresh drain table.
    "q131_table_stream_source" -> ((s, dir) => {
      val cname = "gtss"
      val io = catalogIO(s, cname, "graft_tss_")
      val t = "default.ev_src"
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val cutoff = new java.sql.Timestamp(
        (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
      val v0 = io.catalog.currentVersion(t).getOrElse(0)
      io.append(ev.filter(col("ts") < lit(cutoff)), t)
      io.append(ev.filter(col("ts") >= lit(cutoff)), t)
      val drainIo = TableIO(s, tempDir("graft_tssd_"))
      val q = s.readStream.option("startingVersion", v0.toString)
        .table(s"$cname.$t")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tempDir("graft_tssc_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.TableSink.commitStreamBatch(
            drainIo, "default.drained", id, batch)
          ()
        }
        .start()
      q.awaitTermination()
      drainIo.read("default.drained")
    }),

    // METADATA-ONLY aggregates (r17 — Iceberg/Delta's "count(*) from
    // the manifest"): an unfiltered global COUNT/COUNT(col)/MIN/MAX
    // over a catalog table answers from the per-file stats persisted
    // into the manifest at commit, planned as a driver-side LocalScan —
    // LocalTableScanExec, ZERO data tasks (asserted in-query). At
    // 100 TB this is a catalog lookup standing in for a full-table
    // scan. Exactness envelope (WHERE/GROUP BY/DISTINCT/strings/
    // missing stats fall back to the real scan) is spec-pinned in
    // AggregatePushdownSpec; the oracle replays the same aggregates
    // over the raw parquet.
    "q142_metadata_agg" -> ((s, dir) => {
      val cname = "gmag"
      val io = catalogIO(s, cname, "graft_mag_")
      val t = "default.li_stats"
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      // rerun-safe: overwrite the first slice, append the rest
      io.overwrite(li.filter(pmod(col("l_orderkey"), lit(3)) === 0), t)
      (1 to 2).foreach(k => io.append(li.filter(pmod(col("l_orderkey"), lit(3)) === k), t))
      val df = s.sql(
        s"""SELECT count(*) AS n, count(l_quantity) AS nq,
           |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
           |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
           |FROM $cname.$t""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"metadata aggregate must plan as a LocalScan with zero data tasks:\n$plan")
      df
    }),

    // METADATA-ONLY DELETE (r17 — Iceberg's metadata delete): a
    // DELETE whose predicate PROVABLY covers whole files (per-file
    // manifest stats) drops them from the manifest without reading or
    // writing a byte — the partition-aligned retention delete every
    // 100 TB table runs nightly. Here customers land in three
    // disjoint-key files; the middle range deletes metadata-only
    // (asserted in-query: the post-delete manifest is a SUBSET of the
    // pre-delete one) and the survivors hash-match the SQL replay.
    "q143_metadata_delete" -> ((s, dir) => {
      val cname = "gmdl"
      val io = catalogIO(s, cname, "graft_mdl_")
      val t = "default.cust_ret"
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"))
      // SF-scaling tertile cutoffs (fixed literals would leave empty
      // slices at small SFs — an empty file has no stats to prove)
      val mx = cust.agg(max(col("c_custkey"))).head().getLong(0)
      val (ca, cb) = (mx / 3, 2 * mx / 3)
      // rerun-safe (catalogIO reuses the warehouse per JVM): the
      // OVERWRITE pins this run's content regardless of prior runs
      io.overwrite(cust.filter(col("c_custkey") <= ca).coalesce(1), t)
      io.append(cust.filter(col("c_custkey") > ca && col("c_custkey") <= cb).coalesce(1), t)
      io.append(cust.filter(col("c_custkey") > cb).coalesce(1), t)
      val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      s.sql(s"DELETE FROM $cname.$t WHERE c_custkey > $ca AND c_custkey <= $cb")
      val after = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      require(before.size == 3 && after.subsetOf(before) && after.size == 2,
        s"a fully-covered file must DROP metadata-only: before=${before.size} after=${after.size}")
      io.read(t).select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // DSv2 RUNTIME FILTERING (r17 — dynamic partition pruning for the
    // star join): the fact table lands under a hidden days(ts) layout,
    // the dim side carries a selective filter, and at EXECUTION time
    // the join's surviving keys prune whole fact files by path
    // arithmetic — asserted in-query via the skip probe (kept < total).
    // The scan-side mechanics are what 1000-executor star joins live
    // on; the oracle replays the join statically.
    "q144_runtime_filter_join" -> ((s, dir) => {
      val cname = "grtf"
      val io = catalogIO(s, cname, "graft_rtf_")
      val t = "default.ord_days"
      // rerun-safe: IF NOT EXISTS + OVERWRITE pin this run's content
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (okey BIGINT, od DATE, price DOUBLE) " +
        "PARTITIONED BY (days(od))")
      val ords = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        to_date(col("o_orderdate")).as("od"), col("o_totalprice").as("price"))
        .filter(col("od") >= lit("1996-01-01") && col("od") < lit("1996-02-01"))
      io.overwrite(ords, t)
      // dim: a file-backed date list, only 5 tagged 'keep'
      io.overwrite(ords.select(col("od").as("dd")).distinct()
        .withColumn("tag", when(dayofmonth(col("dd")) <= 5, lit("keep")).otherwise(lit("drop"))),
        "default.dim_dates")
      val key = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
      val old = s.conf.getOption(key)
      try {
        s.conf.set(key, "false") // tiny plan: let DPP build its own subquery
        val joined = s.table(s"$cname.$t")
          .join(s.table(s"$cname.default.dim_dates").filter(col("tag") === "keep"),
            col("od") === col("dd"))
          .select(col("okey"), col("od"), col("price"))
        val out = joined.collect()
        // read from THIS query's executed plan — concurrency-safe
        val skip = graft.io.RuntimeSkipProbe.ofExecuted(joined)
        require(skip.exists { case (kept, total) => kept < total },
          s"the fact scan must runtime-prune files, probe=$skip")
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq), joined.schema)
      } finally old.fold(s.conf.unset(key))(s.conf.set(key, _))
    }),

    // Predicate-SCOPED compaction (r17 — Iceberg rewrite_data_files
    // (where) / Delta OPTIMIZE WHERE): only the files the predicate
    // can touch rewrite (two hot-range files merge to one), the cold
    // file carries VERBATIM (asserted in-query), content is preserved
    // exactly (the hash oracle), and the commit is rewrite-stamped so
    // maintenance-tolerant streams ride through. At 100 TB you compact
    // yesterday's partition for yesterday's bytes — never the table's.
    "q145_scoped_compaction" -> ((s, dir) => {
      val cname = "gscw"
      val io = catalogIO(s, cname, "graft_scw_")
      val t = "default.ord_scw"
      val ords = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      val mx = ords.agg(max(col("o_orderkey"))).head().getLong(0)
      val (ca, cb) = (mx / 3, 2 * mx / 3)
      io.overwrite(ords.filter(col("o_orderkey") <= ca).coalesce(1), t)
      io.append(ords.filter(col("o_orderkey") > ca && col("o_orderkey") <= cb).coalesce(1), t)
      io.append(ords.filter(col("o_orderkey") > cb).coalesce(1), t)
      val before = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
      val n = io.compactWhere(t, col("o_orderkey") <= cb)
      val v1 = io.catalog.currentVersion(t).get
      val after = io.catalog.manifest(t, v1).toSet
      require(n == 2 && after.size == 2 && after.intersect(before).size == 1,
        s"scoped compaction must rewrite the two hot files and carry the cold one: " +
          s"n=$n before=${before.size} after=${after.size} carried=${after.intersect(before).size}")
      require(io.catalog.manifestProps(t, v1).get(TableCatalog.OpProp)
        .contains(TableCatalog.OpRewrite), "scoped compaction must stamp graft.op=rewrite")
      io.read(t)
    }),

    // Persisted WRITE SORT ORDER (r17 — Iceberg's write.sort-order):
    // once declared, every append lands range-distributed + sorted, so
    // each new file's footer min/max tile the key space disjointly and
    // a point predicate scans O(1) files instead of every file — the
    // sorted-layout property as a STANDING write-path guarantee
    // instead of a compactSorted maintenance pass. In-query assert: a
    // probe key can live in exactly ONE of the sorted commit's files.
    "q147_write_sort_order" -> ((s, dir) => {
      val cname = "gwso"
      val io = catalogIO(s, cname, "graft_wso_")
      val t = "default.li_sorted"
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"))
      io.overwrite(li.filter(pmod(col("l_orderkey"), lit(2)) === 0), t)
      io.setWriteSortOrder(t, Seq("l_orderkey"))
      val v0 = io.catalog.currentVersion(t).get
      io.append(li.filter(pmod(col("l_orderkey"), lit(2)) === 1), t)
      val v1 = io.catalog.currentVersion(t).get
      val sortedFiles = io.catalog.manifest(t, v1).toSet
        .diff(io.catalog.manifest(t, v0).toSet)
      if (sortedFiles.size > 1) {
        val conf = s.sessionState.newHadoopConf()
        val probe = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2 | 1L
        val canHold = sortedFiles.count { f =>
          graft.io.FileStats.mightMatch(graft.io.FileStats.cached(f, conf),
            Seq(org.apache.spark.sql.sources.EqualTo("l_orderkey", probe)))
        }
        require(canHold <= 1,
          s"sorted files must tile the key space: probe key fits $canHold files")
      }
      io.read(t)
    }),

    // FILTERED metadata-only aggregates (r18 — extends q142's
    // envelope): COUNT/MIN/MAX under a WHERE stays a zero-task
    // LocalScan when the exact-prune proof holds — every pushed
    // filter implemented exactly by file pruning (here: a day-aligned
    // range over a hidden days(od) layout, proven by path arithmetic;
    // footer stats prove the key-range flavor — both spec-pinned in
    // AggregatePushdownSpec with boundary-file and null fallbacks).
    // "How many rows did yesterday ingest?" is the most common 100 TB
    // metadata question; this answers it from the manifest.
    "q148_filtered_metadata_agg" -> ((s, dir) => {
      val cname = "gfma"
      val io = catalogIO(s, cname, "graft_fma_")
      val t = "default.ord_ing"
      // rerun-safe: IF NOT EXISTS + OVERWRITE pin this run's content
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (okey BIGINT, od DATE, price DOUBLE) " +
        "PARTITIONED BY (days(od))")
      val ords = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        to_date(col("o_orderdate")).as("od"), col("o_totalprice").as("price"))
        .filter(col("od") >= lit("1996-01-01") && col("od") < lit("1996-04-01"))
      io.overwrite(ords, t)
      val df = s.sql(
        s"""SELECT count(*) AS n, count(price) AS np,
           |  min(okey) AS min_ok, max(okey) AS max_ok,
           |  min(od) AS min_od, max(od) AS max_od,
           |  min(price) AS min_price, max(price) AS max_price
           |FROM $cname.$t
           |WHERE od >= DATE'1996-02-01' AND od < DATE'1996-03-01'""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"filtered metadata aggregate must stay a LocalScan under the day-aligned WHERE:\n$plan")
      df
    }),

    // COLUMN DEFAULT VALUES (r18 — Iceberg v3 initial/write defaults,
    // Delta column defaults): ADD COLUMN ... DEFAULT is metadata-only;
    // rows in files written without the column serve the default (the
    // parquet readers' existence-default fill — never null, never a
    // rewrite), INSERTs omitting the column or writing the DEFAULT
    // keyword resolve the current default, explicit values win. The
    // base slice is written WITHOUT the tier column, so every one of
    // its rows exercises the existence fill.
    "q152_column_defaults" -> ((s, dir) => {
      val cname = "gcdf"
      val io = catalogIO(s, cname, "graft_cdf2_")
      val t = "default.cust_tier"
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (c_custkey BIGINT, c_name STRING)")
      // rerun-safe: the overwrite logically replaces prior runs' rows
      io.overwrite(
        Tables.customer(s, dir).filter(col("c_custkey") <= 100)
          .select(col("c_custkey"), col("c_name")), t)
      if (!s.table(s"$cname.$t").columns.contains("tier"))
        s.sql(s"ALTER TABLE $cname.$t ADD COLUMN tier STRING DEFAULT 'std'")
      s.sql(s"INSERT INTO $cname.$t VALUES (-1, 'manual', 'gold')")
      s.sql(s"INSERT INTO $cname.$t (c_custkey, c_name) VALUES (-2, 'auto')")
      s.sql(s"INSERT INTO $cname.$t VALUES (-3, 'kw', DEFAULT)")
      s.table(s"$cname.$t").select(col("c_custkey"), col("c_name"), col("tier"))
        .orderBy(col("c_custkey"))
    }),

    // CHECK CONSTRAINTS (r18 — Delta's ALTER TABLE ADD CONSTRAINT):
    // the predicate persists in table meta and is reported through
    // DSv2 `Table.constraints()`, so SQL inserts enforce through
    // Spark's own CHECK_CONSTRAINT_VIOLATION path while programmatic
    // writes validate in the SAME pass that writes (an assert_true
    // guard in the scan pipeline — zero extra passes). A violating
    // insert refuses WITHOUT committing, asserted in-query.
    "q155_check_constraints" -> ((s, dir) => {
      val cname = "gchq"
      val io = catalogIO(s, cname, "graft_chq_")
      val t = "default.cust_chk"
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (ckey BIGINT, bal DOUBLE)")
      io.overwrite(Tables.customer(s, dir).filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("ckey"), col("c_acctbal").as("bal")), t)
      if (io.catalog.readMeta(t).checks.isEmpty)
        s.sql(s"ALTER TABLE $cname.$t ADD CONSTRAINT ckey_nonneg CHECK (ckey >= 0)")
      s.sql(s"INSERT INTO $cname.$t VALUES (1000000, 1.5)")
      val v = io.catalog.currentVersion(t).get
      val refused =
        try { s.sql(s"INSERT INTO $cname.$t VALUES (-1, 0.0)"); false }
        catch { case _: Exception => true }
      require(refused && io.catalog.currentVersion(t).get == v,
        "a violating insert must refuse without committing a snapshot")
      io.read(t).select(col("ckey"), col("bal"))
    }),

    // WRITE DISTRIBUTION MODE (r18 — Iceberg's
    // write.distribution-mode = hash): the batch clusters by its
    // layout columns before the partitioned write, so each partition
    // value is written by ONE task — one file per day per commit
    // (asserted in-query) instead of (tasks x partitions) small files,
    // the dominant small-file source on partitioned 100 TB appends.
    // Content is layout-only: the read hash-matches the plain slice.
    "q154_write_distribution" -> ((s, dir) => {
      val cname = "gwdq"
      val io = catalogIO(s, cname, "graft_wdq_")
      val t = "default.ord_dist"
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (okey BIGINT, od DATE, price DOUBLE) " +
        "PARTITIONED BY (days(od))")
      io.setWriteDistribution(t, "hash")
      val ords = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        to_date(col("o_orderdate")).as("od"), col("o_totalprice").as("price"))
        .filter(col("od") >= lit("1996-01-01") && col("od") < lit("1996-02-01"))
      // a deliberately fragmented input: without the mode this writes
      // up to 8 files per day
      io.overwrite(ords.repartition(8), t)
      val v = io.catalog.currentVersion(t).get
      val perDay = io.catalog.manifest(t, v)
        .groupBy(f => f.split("gp_days_od=")(1).split('/')(0))
      require(perDay.nonEmpty && perDay.values.forall(_.size == 1),
        s"hash distribution must write ONE file per day, got " +
          perDay.view.mapValues(_.size).toMap)
      io.read(t).select(col("okey"), col("od"), col("price"))
    }),

    // TYPE WIDENING (r18 — Iceberg/Delta `ALTER COLUMN ... TYPE`):
    // metadata-only lossless widening (int->bigint, float->double,
    // decimal precision growth); old files keep their narrow physical
    // type and the parquet readers widen at scan time, so a value past
    // Int.MaxValue can land right after the ALTER with zero rewrite.
    // Lossy retypes refuse (Spark's analyzer catches narrowing, the
    // catalog's lossless rule catches long->double and scale changes).
    "q153_type_widening" -> ((s, dir) => {
      val cname = "gtw"
      val io = catalogIO(s, cname, "graft_tw_")
      val t = "default.cust_wide"
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (ckey INT, bal FLOAT)")
      // base slice under the NARROW types; rerun-safe logical replace
      io.overwrite(Tables.customer(s, dir).filter(col("c_custkey") <= 100)
        .select(col("c_custkey").cast("int").as("ckey"),
          col("c_acctbal").cast("float").as("bal")), t)
      if (s.table(s"$cname.$t").schema("ckey").dataType !=
          org.apache.spark.sql.types.LongType) {
        s.sql(s"ALTER TABLE $cname.$t ALTER COLUMN ckey TYPE BIGINT")
        s.sql(s"ALTER TABLE $cname.$t ALTER COLUMN bal TYPE DOUBLE")
      }
      s.sql(s"INSERT INTO $cname.$t VALUES (9999999999, 0.5)")
      s.table(s"$cname.$t").select(col("ckey"), col("bal")).orderBy(col("ckey"))
    }),

    // NOT NULL COLUMN CONSTRAINTS (r19 — Delta's most-used
    // constraint, sibling of q155's CHECK machinery): declared at
    // CREATE (reported through the table schema, so Spark's own
    // INSERT resolution enforces SQL writes) or via ALTER COLUMN ...
    // SET NOT NULL (parser sugar over the validating
    // system.set_column_nullability procedure — Spark's v2 ALTER
    // refuses the direction outright; existing rows validate up
    // front); programmatic writes enforce in the SAME pass that
    // writes (TableIO.applyChecks). Both violation flavors refuse
    // WITHOUT committing (asserted in-query); DROP NOT NULL
    // re-admission lands the final null row.
    "q157_notnull_constraints" -> ((s, dir) => {
      val cname = "gnnq"
      val io = catalogIO(s, cname, "graft_nnq_")
      val t = "default.cust_nn"
      s.sql(s"CREATE TABLE IF NOT EXISTS $cname.$t (ckey BIGINT NOT NULL, seg STRING)")
      io.overwrite(Tables.customer(s, dir).filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("ckey"), col("c_mktsegment").as("seg")), t)
      // nullable -> NOT NULL via the DDL sugar (validates existing rows)
      if (s.table(s"$cname.$t").schema("seg").nullable)
        s.sql(s"ALTER TABLE $cname.$t ALTER COLUMN seg SET NOT NULL")
      require(!s.table(s"$cname.$t").schema("seg").nullable,
        "SET NOT NULL must surface through the reported table schema")
      s.sql(s"INSERT INTO $cname.$t VALUES (1000000, 'MACHINERY')")
      val v = io.catalog.currentVersion(t).get
      val sqlRefused =
        try { s.sql(s"INSERT INTO $cname.$t VALUES (1000001, CAST(NULL AS STRING))"); false }
        catch { case _: Exception => true }
      val progRefused =
        try {
          io.append(s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(null, "BUILDING")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("ckey",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("seg",
                org.apache.spark.sql.types.StringType)))), t)
          false
        } catch { case _: Exception => true }
      require(sqlRefused && progRefused && io.catalog.currentVersion(t).get == v,
        "violating SQL and programmatic writes must refuse without committing")
      // DROP NOT NULL re-admits nulls (Spark's native relaxing ALTER)
      s.sql(s"ALTER TABLE $cname.$t ALTER COLUMN seg DROP NOT NULL")
      s.sql(s"INSERT INTO $cname.$t VALUES (1000002, CAST(NULL AS STRING))")
      io.read(t).select(col("ckey"), col("seg"))
    }),

    // PERSISTED CATALOG VIEWS (r19 — Iceberg view spec / Delta catalog
    // views; DSv2 ViewCatalog + graft's extension rules, since Spark
    // 4.1 OSS has no analyzer path to a v2 ViewCatalog): CREATE VIEW
    // persists the SQL + captured resolution context in the warehouse;
    // the RESULT reads the view back through a SECOND catalog instance
    // over the same warehouse root — a session-state answer cannot
    // pass, only the persisted document can. Rename round-trip and
    // SHOW VIEWS introspection asserted in-query; the full DDL surface
    // is spec-pinned in ViewCatalogSpec. Resolution is pure metadata
    // (one ~KB document at analysis time), so the view layer adds
    // nothing to executor cost at 100 TB.
    "q156_persisted_view" -> ((s, dir) => {
      val cname = "gvq"
      val io = catalogIO(s, cname, "graft_vq_")
      val t = "default.ord_vsrc"
      io.overwrite(
        Tables.orders(s, dir).filter(col("o_custkey") <= 500)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")), t)
      s.sql(s"CREATE OR REPLACE VIEW $cname.default.ord_pri AS " +
        s"SELECT o_orderpriority AS prio, count(*) AS n, sum(o_totalprice) AS total " +
        s"FROM $cname.$t GROUP BY o_orderpriority")
      // rename round-trip: the view survives ALTER VIEW ... RENAME TO
      s.sql(s"ALTER VIEW $cname.default.ord_pri RENAME TO $cname.default.ord_pri_x")
      s.sql(s"ALTER VIEW $cname.default.ord_pri_x RENAME TO $cname.default.ord_pri")
      val shown = s.sql(s"SHOW VIEWS IN $cname.default").collect().map(_.getString(1))
      require(shown.contains("ord_pri"),
        s"SHOW VIEWS must list the stored view, got ${shown.mkString(",")}")
      // fresh catalog instance over the SAME warehouse — proves the
      // view resolves from the persisted document, not session state
      val c2 = "gvq2"
      if (s.conf.getOption(s"spark.sql.catalog.$c2").isEmpty) {
        s.conf.set(s"spark.sql.catalog.$c2", classOf[graft.io.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$c2.warehouse",
          s.conf.get(s"spark.sql.catalog.$cname.warehouse"))
      }
      s.table(s"$c2.default.ord_pri")
    }),

    // PORTABLE BPE TOKENIZER (r19 — closes the token-pricing realism
    // gap): q43/q103 counted whitespace word tokens, which misprices
    // non-space-delimited text at crawl scale where budgets are
    // BPE-denominated. graft_bpe_count is a codegen kernel running the
    // classic greedy merge loop over graft's fixed, versioned merge
    // table (graft.functions.Bpe); the DuckDB oracle replays the SAME
    // loop over the SAME table (interpolated — one source of truth) as
    // a recursive CTE and hash-matches bit for bit. One fused
    // projection, zero shuffles — nothing changes at 100 TB.
    "q158_bpe_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        expr("graft_bpe_count(text)").as("n_tokens_bpe"),
        expr(s"CAST(size(${graft.text.TextAnalysis.wordTokensSql("text")}) AS BIGINT)")
          .as("n_tokens_ws"))),

    // q43's sequence packing driven by BPE counts: identical
    // shard/running-total/div-mod machinery, budgets priced in BPE
    // tokens (what a training run actually consumes)
    "q159_bpe_sequence_pack" -> ((s, dir) =>
      graft.text.Packing.sequencePack(Tables.documents(s, dir),
        tokenCount = Some(expr("graft_bpe_count(text)")))),

    // q103's token-budget mixture sampling driven by BPE counts
    "q160_bpe_budget_mix" -> ((s, dir) =>
      graft.sampling.Sampling.tokenBudgetSample(
        Tables.documents(s, dir), "source", budget = 20000L,
        tokenCount = Some(expr("graft_bpe_count(text)")))),

    // IVF-PQ ANN (r19 — the last ANN scale lever): q28's IVF ships
    // full float vectors per probed cell; here the corpus side of the
    // probe join carries ONE nibble-packed BIGINT per vector (8
    // subspaces x 4-bit codes — FAISS PQx4-style), a 32-64x shipped-
    // bytes reduction, which is what makes 100 TB embedding search
    // IO-feasible. Codebooks train distributed via the q149
    // trainCentroidsFrame path; scoring is asymmetric (full-precision
    // query vs codeword reconstruction), every term a fixed-order dot
    // product — so the DuckDB oracle replays training, encoding, and
    // ADC bit-for-bit. Recall vs q19 brute force asserted in-query
    // (PQ is approximate by construction; floor measured on this
    // corpus, near-random vectors = PQ's worst case).
    "q161_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val res = graft.similarity.Similarity.ivfPqTopK(emb, nQueries = 16, k = 5)
      val bf = graft.similarity.Similarity.bruteForceTopK(emb, 16, 5)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("__hit"))
      // ONE action fuses the recall-floor assert with the result
      // localization (r21 verdict item 2): a LEFT join against the
      // brute-force top-k keeps exactly the queries x k result rows
      // ((q_id, neighbor_id) is unique on both sides) and tags the
      // hits, so a single collect yields the rows AND the recall —
      // previously persist + count + collect, three jobs and a cache
      // entry, ran the same DAG. Localizing 80 rows is the q03 driver
      // round-trip idiom, bounded by construction.
      val rows = res.join(bf, Seq("q_id", "neighbor_id"), "left").collect()
      val recall = rows.count(!_.isNullAt(3)) / 80.0
      require(recall >= 0.45,
        f"IVF-PQ recall@5 vs brute force fell below the pinned floor: $recall%.3f")
      val local = s.createDataFrame(
        java.util.List.of(rows.map(r =>
          org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2))): _*), res.schema)
      local
    }),

    // PARTITIONED-TABLE DML (r19 — previously DELETE-only): SQL
    // UPDATE and MERGE INTO over a Hive-partitioned table. The
    // copy-on-write replacement takes a LAYOUT HOP (flat rewrite
    // output re-staged under the table's partition dirs — rows may
    // move partitions, e.g. the MERGE's insert minting a new year
    // dir), and scoping prunes by LAYOUT DIRECTORIES: the
    // partition-aligned UPDATE provably rewrites only the matching
    // year's files (asserted in-query; partition columns aren't in
    // parquet footers, so dir arithmetic is the only possible proof).
    "q162_partitioned_dml" -> ((s, dir) => {
      val cname = "gpdq"
      val io = catalogIO(s, cname, "graft_pdq_")
      val t = "default.ord_pdml"
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 300)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(to_date(col("o_orderdate"))).as("oyr"))
      io.overwrite(ords.repartition(col("oyr")), t, Seq("oyr"))
      val v0 = io.catalog.currentVersion(t).get
      val before = io.catalog.manifest(t, v0)
      s.sql(s"UPDATE $cname.$t SET o_totalprice = o_totalprice * 2 WHERE oyr = 1996")
      val after = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
      require(before.filterNot(_.contains("oyr=1996")).toSet ==
          after.filterNot(_.contains("oyr=1996")).toSet,
        "partition-aligned UPDATE must carry every other partition's files verbatim")
      ords.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), lit(1000.0).as("delta"))
        .unionByName(s.sql("SELECT CAST(-1 AS BIGINT) AS o_orderkey, CAST(42.0 AS DOUBLE) AS delta"))
        .createOrReplaceTempView("pdml_src_q162")
      s.sql(
        s"""MERGE INTO $cname.$t t USING pdml_src_q162 s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.delta
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice, oyr)
           |  VALUES (s.o_orderkey, -1, s.delta, 2099)""".stripMargin)
      s.catalog.dropTempView("pdml_src_q162")
      val files = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
      require(files.forall(_.contains("oyr=")) && files.exists(_.contains("oyr=2099")),
        "the MERGE insert must mint its own partition directory")
      io.read(t).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("oyr"))
    }),

    // MATERIALIZED VIEW end-to-end (r19 — Iceberg/Delta-DLT parity,
    // and exactly what the reference's AggregationJob.scala:43-90
    // rollup tables want to be): CREATE MATERIALIZED VIEW
    // full-computes a backing summary table ONCE and persists the
    // IVM recipe + staleness marker on the q156 view document; then
    // an append and a MOR positional delete land on the base, and
    // each CALL system.refresh_mv rolls the summary forward by the
    // CHANGELOG delta (q85's exact-decimal IVM) — O(changed files +
    // groups), never a base rescan (10x probe in
    // MaterializedViewSpec). Marker advancement per refresh and
    // maintained == full-recompute (bit-exact) are asserted
    // in-query; the result reads the MV through plain persisted-view
    // resolution.
    "q163_materialized_view" -> ((s, dir) => {
      val cname = "gmvq"
      val io = catalogIO(s, cname, "graft_mvq_")
      val t = "default.ord_mv"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      io.overwrite(Tables.orders(s, dir).filter(col("o_custkey") <= 800)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")), t) // v1
      s.sql(s"CREATE OR REPLACE MATERIALIZED VIEW $cname.default.ord_rev AS " +
        s"SELECT o_orderpriority, count(*) AS n_orders, sum(o_totalprice) AS total_price " +
        s"FROM $cname.$t GROUP BY o_orderpriority")
      io.append(Tables.orders(s, dir)
        .filter(col("o_custkey") > 800 && col("o_custkey") <= 1200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")), t) // v2
      val r1 = s.sql(s"CALL $cname.system.refresh_mv('default.ord_rev')").head()
      io.deleteWhereMOR(t, col("o_totalprice") >= 250000.0) // v3: MOR delete
      val r2 = s.sql(s"CALL $cname.system.refresh_mv('default.ord_rev')").head()
      require(r1.getInt(0) == 1 && r1.getInt(1) == 2 &&
          r2.getInt(0) == 2 && r2.getInt(1) == 3,
        s"staleness marker must advance per refresh, got $r1 then $r2")
      // maintained state == full recompute, bit for bit (q85's IVM
      // exactness property, here through the whole SQL surface)
      val recomputed = graft.operators.ViewMaintenance.summarize(
        io.read(t), Seq("o_orderpriority"), "n_orders",
        Seq(graft.operators.ViewMaintenance.Measure("o_totalprice", "total_price", 2)))
      val served = io.read("default.__mv_ord_rev")
      require(served.exceptAll(recomputed).isEmpty && recomputed.exceptAll(served).isEmpty,
        "maintained MV must equal a full recompute")
      s.table(s"$cname.default.ord_rev")
        .select(col("o_orderpriority"), col("n_orders"), col("total_price"))
    }),

    // MERGE WITH SCHEMA EVOLUTION (r19 — Delta's schema-evolution
    // MERGE / Iceberg's merge-schema writes, via Spark 4.1's native
    // AUTOMATIC_SCHEMA_EVOLUTION capability): the source carries an
    // audit column the table doesn't have; the MERGE lands the
    // column AND the row changes in ONE data commit — the analyzer
    // routes the new column through the catalog's validated
    // alterTable (nullable AddColumn; lossless `widens` for retypes,
    // refusal shapes spec-pinned in MergeSchemaEvolutionSpec).
    // Asserted in-query: exactly one version hop, and the
    // pre-evolution snapshot time-travels with the new column null
    // for every old row (no stale-byte resurrection).
    "q164_merge_schema_evolution" -> ((s, dir) => {
      val cname = "gsev"
      val io = catalogIO(s, cname, "graft_sev_")
      val t = "default.ord_sev"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      io.overwrite(Tables.orders(s, dir).filter(col("o_custkey") <= 400)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), t) // v1
      val ord = Tables.orders(s, dir)
      ord.filter(col("o_custkey") > 400 && col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          concat(lit("src_"), col("o_orderpriority")).as("audit_tag"))
        .unionByName(ord.filter(col("o_custkey") <= 200)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 100.0).as("o_totalprice"),
            lit("repriced").as("audit_tag")))
        .createOrReplaceTempView("sev_src_q164")
      val v0 = io.catalog.currentVersion(t).get
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cname.$t t USING sev_src_q164 s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.catalog.dropTempView("sev_src_q164")
      require(io.catalog.currentVersion(t).get == v0 + 1,
        "schema + rows must land as ONE data commit")
      require(io.readVersion(t, v0).filter(col("audit_tag").isNotNull).count() == 0,
        "pre-evolution rows must read null for the evolved column")
      io.read(t).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("audit_tag"))
    }),

    // STREAMING MV MAINTENANCE (the continuous twin of q163's CALL
    // refresh_mv): the base's scripted history (append + COW delete
    // after the MV's creation) streams through `.changelog` under
    // Trigger.AvailableNow, and each micro-batch applies its exact-
    // decimal IVM delta to the backing table and advances the
    // staleness marker — the Delta-Live-Tables-style always-fresh
    // rollup. Asserted in-query: after the drain a batch refresh_mv
    // is a NO-OP (marker caught up — the stream and the CALL share
    // one progress contract), and the served MV equals the final
    // recompute by the hash oracle.
    "q166_mv_stream_maintain" -> ((s, dir) => {
      val cname = "gmvs"
      val io = catalogIO(s, cname, "graft_mvs_")
      val t = "default.ord_mvs"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      io.overwrite(Tables.orders(s, dir).filter(col("o_custkey") <= 600)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")), t) // v1
      s.sql(s"CREATE OR REPLACE MATERIALIZED VIEW $cname.default.ord_srev AS " +
        s"SELECT o_orderpriority, count(*) AS n_orders, sum(o_totalprice) AS total_price " +
        s"FROM $cname.$t GROUP BY o_orderpriority")
      io.append(Tables.orders(s, dir)
        .filter(col("o_custkey") > 600 && col("o_custkey") <= 900)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")), t) // v2
      io.deleteWhere(t, col("o_totalprice") >= 200000.0) // v3: COW delete
      val g = s.sessionState.catalogManager.catalog(cname)
        .asInstanceOf[graft.io.GraftCatalog]
      val q = graft.io.MaterializedViews.maintainStream(s, g, "default.ord_srev",
        tempDir("graft_mvsc_"))
      q.awaitTermination()
      val r = s.sql(s"CALL $cname.system.refresh_mv('default.ord_srev')").head()
      require(r.getLong(2) == 0L && r.getInt(0) == r.getInt(1),
        s"the stream must leave the marker caught up (batch refresh = no-op), got $r")
      s.table(s"$cname.default.ord_srev")
        .select(col("o_orderpriority"), col("n_orders"), col("total_price"))
    }),

    // TRANSPARENT MV QUERY REWRITE end-to-end (the serving half of
    // the MV system — Databricks/BigQuery-style aggregate matching):
    // a USER-written GROUP BY aggregate over the BASE table is
    // answered from the fresh MV's backing table (plan asserted
    // in-query: backing scan present, base table absent — O(groups)
    // served rows, no base scan, no shuffle); after a base append the
    // SAME statement falls back to the base (stale MV must never
    // lie — asserted), and a CALL refresh_mv restores the rewrite.
    // The returned frame is the post-refresh rewritten answer,
    // hash-oracled against the direct DuckDB aggregate.
    "q167_mv_query_rewrite" -> ((s, dir) => {
      val cname = "gmrq"
      val io = catalogIO(s, cname, "graft_mrq_")
      val t = "default.ord_rwbase"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      // the measure is stored DECIMAL in the base: the transparent
      // rewrite refuses to serve a floating-point sum (the backing
      // table's quantized double sum would silently differ on
      // non-cents data — the "can miss, never lie" contract), so the
      // rewrite-eligible shape is an exact-typed measure; the final
      // select casts the exact sum to DOUBLE (cents-identical to the
      // pre-decimal fixture, oracle-pinned)
      io.overwrite(Tables.orders(s, dir).filter(col("o_custkey") <= 700)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"),
          col("o_orderpriority")), t) // v1
      s.sql(s"CREATE OR REPLACE MATERIALIZED VIEW $cname.default.ord_rwv AS " +
        s"SELECT o_orderpriority, count(*) AS n_orders, sum(o_totalprice) AS total_price " +
        s"FROM $cname.$t WHERE o_totalprice < 150000.0 GROUP BY o_orderpriority")
      val aggSql = s"SELECT o_orderpriority, count(*) AS n_orders, " +
        s"sum(o_totalprice) AS total_price FROM $cname.$t " +
        s"WHERE o_totalprice < 150000.0 GROUP BY o_orderpriority"
      // decimal-free output schema (driver-hash rule): exact decimal
      // internally, DOUBLE in the final select
      val sql = "SELECT o_orderpriority, n_orders, " +
        s"CAST(total_price AS DOUBLE) AS total_price FROM ($aggSql)"
      def planOf(): String = s.sql(sql).queryExecution.optimizedPlan.toString
      require(planOf().contains("__mv_ord_rwv") && !planOf().contains("ord_rwbase@"),
        s"a fresh MV must answer the user's aggregate:\n${planOf()}")
      io.append(Tables.orders(s, dir)
        .filter(col("o_custkey") > 700 && col("o_custkey") <= 800)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"),
          col("o_orderpriority")), t) // v2: MV now stale
      require(!planOf().contains("__mv_ord_rwv"),
        s"a STALE MV must never serve:\n${planOf()}")
      s.sql(s"CALL $cname.system.refresh_mv('default.ord_rwv')")
      require(planOf().contains("__mv_ord_rwv"),
        s"refresh must restore the rewrite:\n${planOf()}")
      s.sql(sql)
    }),

    // UNIFIED RETENTION SWEEP (r19 — `CALL system.vacuum`): one
    // procedure composing expire_snapshots -> branch expiry -> the
    // age-guarded orphan sweep in the only safe order (expiry is what
    // turns a superseded snapshot's exclusive files into orphans).
    // The scripted fixture plants every reference kind — a tagged
    // snapshot beyond the retention window (survives), an expired
    // overwrite whose two files become reclaimable, a branch chain
    // whose oldest manifest expires, and an aged crashed-write orphan
    // — and the output pins the reclaimed inventory BY LITERAL COUNTS
    // plus the surviving surfaces' row counts against the oracle.
    // Bytes are reported by the CALL (VacuumSpec pins attribution)
    // but excluded here: parquet encoding details aren't part of the
    // cross-engine contract.
    "q165_vacuum_retention" -> ((s, dir) => {
      import s.implicits._
      val cname = "gvc"
      val io = catalogIO(s, cname, "graft_vacq_")
      val t = "default.ord_vac"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      io.overwrite(ord.filter(col("o_custkey") <= 300).repartition(2), t) // v1: 2 files
      io.overwrite(ord.filter(col("o_custkey") <= 300).coalesce(1), t) // v2 supersedes both
      io.catalog.tagSnapshot(t, "gold", 2)
      io.append(ord.filter(col("o_custkey") > 300 && col("o_custkey") <= 400), t) // v3
      io.createBranch(t, "audit") // branch v1 (fork at main v3 — pinned for life)
      io.append(ord.filter(col("o_custkey") > 400 && col("o_custkey") <= 425)
        .coalesce(1), t, ref = Ref.Branch("audit")) // branch v2 — the one that expires
      io.append(ord.filter(col("o_custkey") > 425 && col("o_custkey") <= 437)
        .coalesce(1), t, ref = Ref.Branch("audit")) // branch v3
      io.append(ord.filter(col("o_custkey") > 437 && col("o_custkey") <= 450)
        .coalesce(1), t, ref = Ref.Branch("audit")) // branch v4
      io.append(ord.filter(col("o_custkey") > 400 && col("o_custkey") <= 500), t) // v4
      // aged crashed-write residue: a parquet file no manifest references
      val orphan = java.nio.file.Paths.get(io.catalog.dataPath(t),
        "part-orphan-crashed.snappy.parquet")
      java.nio.file.Files.deleteIfExists(orphan)
      val tmpSrc = tempDir("graft_vaco_")
      ord.filter(col("o_custkey") === 1).coalesce(1).write.mode("overwrite").parquet(tmpSrc)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmpSrc)).iterator()
        .forEachRemaining(p =>
          if (p.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, orphan,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000)
      io.catalog.manifest(t, 1).foreach(f =>
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(f), old))
      java.nio.file.Files.setLastModifiedTime(orphan, old)
      val report = s.sql(s"CALL $cname.system.vacuum('$t', 2)")
        .select(col("action")).as[String].collect()
      Seq(
        ("expired_snapshots", report.count(_ == "expired_snapshot").toLong),
        ("expired_branch_snapshots", report.count(_ == "expired_branch_snapshot").toLong),
        ("orphan_files", report.count(_ == "orphan_file").toLong),
        ("rows_current", io.read(t).count()),
        ("rows_tag_gold", io.readVersion(t, 2).count()),
        ("rows_branch", io.read(t, Ref.Branch("audit")).count())
      ).toDF("metric", "value")
    }),

    // Rate-limited stream catch-up (r17 — Delta's maxFilesPerTrigger /
    // Iceberg's max-files-per-micro-batch): four event quarters land
    // as four commits, and the stream drains them under
    // maxVersionsPerBatch=1 + Trigger.AvailableNow — the source
    // implements SupportsTriggerAvailableNow, so the capped catch-up
    // runs FOUR bounded micro-batches to the pinned target instead of
    // one history-sized batch (the checkpoint-interval / state-spike
    // wall a consumer starting deep in a 100 TB table's history hits).
    // The batch count is asserted in-query; the drained union is
    // hash-oracled against the events replay (exactly-once across
    // capped batches).
    "q141_rate_limited_catchup" -> ((s, dir) => {
      val cname = "grlc"
      val io = catalogIO(s, cname, "graft_rlc_")
      val t = "default.ev_rate"
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val v0 = io.catalog.currentVersion(t).getOrElse(0)
      (0 to 3).foreach(k => io.append(ev.filter(pmod(col("event_id"), lit(4)) === k), t))
      val drainIo = TableIO(s, tempDir("graft_rlcd_"))
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream
        .option("startingVersion", v0.toString)
        .option("maxVersionsPerBatch", "1")
        .table(s"$cname.$t")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tempDir("graft_rlcc_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          nBatches.incrementAndGet()
          graft.streaming.TableSink.commitStreamBatch(
            drainIo, "default.drained", id, batch)
          ()
        }
        .start()
      q.awaitTermination()
      require(nBatches.get == 4,
        s"rate-limited catch-up must run one micro-batch per commit (4), ran ${nBatches.get}")
      drainIo.read("default.drained")
    }),

    // The streaming consumer RIDING THROUGH table maintenance
    // (Iceberg's streaming-skip-overwrite-snapshots / Delta's
    // skipChangeCommits, rewrite flavor): a checkpointed stream drains
    // the first half of events, then the table is COMPACTED, the
    // second half lands, and a sort-clustered rewrite follows — the
    // resumed stream serves exactly the new appends because both
    // rewrites carry the `graft.op = rewrite` marker and
    // skipRewriteCommits skips them (their files re-pack rows already
    // served). Without the option this is the "restart from a fresh
    // checkpoint" wall every 100 TB table hits at its first
    // compaction. Drained rows hash-match the full events replay.
    "q132_stream_skip_rewrites" -> ((s, dir) => {
      val cname = "gmnt"
      val io = catalogIO(s, cname, "graft_mnt_")
      val t = "default.ev_mnt"
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val cutoff = new java.sql.Timestamp(
        (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
      val v0 = io.catalog.currentVersion(t).getOrElse(0)
      val drainIo = TableIO(s, tempDir("graft_mntd_"))
      val ckpt = tempDir("graft_mntc_")
      def drainOnce(): Unit = {
        val q = s.readStream
          .option("startingVersion", v0.toString)
          .option("skipRewriteCommits", "true")
          .table(s"$cname.$t")
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            graft.streaming.TableSink.commitStreamBatch(
              drainIo, "default.drained", id, batch)
            ()
          }
          .start()
        q.awaitTermination()
      }
      io.append(ev.filter(col("ts") < lit(cutoff)), t)
      drainOnce() // first half served
      io.compact(t) // maintenance mid-stream: the consumer rides through
      io.append(ev.filter(col("ts") >= lit(cutoff)), t)
      io.compactSorted(t, Seq("user_id"), targetFiles = 2)
      drainOnce() // serves ONLY the new append — the rewrites, nothing
      drainIo.read("default.drained")
    }),

    // STREAMING change data feed (Delta's readChangeFeed / Iceberg's
    // changelog scan, as a stream): `readStream.table("<t>.changelog")`
    // serves the NET row-level changes per micro-batch — appends as
    // INSERTs straight off their files (constant-tagged rows, zero
    // extra I/O), COW DELETE/UPDATE rewrites as their exceptAll diff
    // (staged once under the stream's checkpoint, O(files touched)),
    // and a compaction nets to ZERO rows, so CDC consumers ride
    // through maintenance with no option at all. The scripted history
    // (overwrite, append, COW delete, COW update, compact) fully
    // determines the drained rows; versions restart at 1 via dropTable
    // so the _change_version column is hash-oracled literally.
    "q133_stream_changelog" -> ((s, dir) => {
      val cname = "gcdc"
      val io = catalogIO(s, cname, "graft_cdc2_")
      val t = "default.supp_cl"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      io.overwrite(Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"),
        col("s_acctbal").cast("decimal(12,2)").as("bal")), t) // v1
      io.append(Tables.supplier(s, dir).filter(col("s_suppkey").between(3, 7))
        .select((col("s_suppkey").cast("bigint") + 1000).as("skey"),
          concat(lit("n_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal")), t) // v2
      io.deleteWhere(t, col("skey") % 3 === 0) // v3: net DELETEs only
      io.updateWhere(t, col("skey") % 4 === 1,
        Map("bal" -> (col("bal") + 50).cast("decimal(12,2)"))) // v4: DELETE+INSERT
      io.compact(t) // v5: nets zero changelog rows
      val drainIo = TableIO(s, tempDir("graft_cdcd_"))
      val q = s.readStream.table(s"$cname.$t.changelog")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tempDir("graft_cdcc_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.TableSink.commitStreamBatch(
            drainIo, "default.drained", id, batch)
          ()
        }
        .start()
      q.awaitTermination()
      // DECIMAL stays internal: the driver's hasher mismatches decimal
      // output columns, and cents-exact bal casts to DOUBLE losslessly
      drainIo.read("default.drained")
        .withColumn("bal", col("bal").cast("double"))
        .orderBy(col("_change_version"), col("_change_type"), col("skey"),
          col("s_name"), col("bal"))
    }),

    // TABLE REPLICATION off the change feed — the composition the CDC
    // surface exists for: the source table's scripted history (q133's
    // shape) streams through `.changelog`, each micro-batch reduces to
    // its latest change per key (INSERT beats DELETE at the same
    // version: an UPDATE's net pair applies as the new row), and a
    // zero-read cdcApplyMOR lands it in the REPLICA — a different
    // warehouse, as replication would be. At 100 TB this is the
    // O(delta) table-sync loop: per cycle the replica pays the
    // changed files' diff + one metadata commit, never a source or
    // replica rescan. Final replica content == the source's final
    // state, hash-oracled against the pure-SQL replay.
    "q136_cdc_replication" -> ((s, dir) => {
      val cname = "gcrp"
      val io = catalogIO(s, cname, "graft_crp_")
      val t = "default.supp_rp"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh history
      io.overwrite(Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"),
        col("s_acctbal").cast("decimal(12,2)").as("bal")), t) // v1
      io.append(Tables.supplier(s, dir).filter(col("s_suppkey").between(3, 7))
        .select((col("s_suppkey").cast("bigint") + 1000).as("skey"),
          concat(lit("n_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal")), t) // v2
      io.deleteWhere(t, col("skey") % 3 === 0) // v3
      io.updateWhere(t, col("skey") % 4 === 1,
        Map("bal" -> (col("bal") + 50).cast("decimal(12,2)"))) // v4
      io.compact(t) // v5: nets zero changelog rows
      val dstIo = TableIO(s, tempDir("graft_crpd_"))
      val dst = "default.supp_replica"
      val q = s.readStream.table(s"$cname.$t.changelog")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tempDir("graft_crpc_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val w = Window.partitionBy(col("skey")).orderBy(
            col("_change_version").desc,
            when(col("_change_type") === "INSERT", 0).otherwise(1).asc)
          val latest = batch
            .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
            .withColumn("op",
              when(col("_change_type") === "DELETE", lit("D")).otherwise(lit("U")))
            .select(col("skey"), col("s_name"), col("bal"), col("op"))
          dstIo.cdcApplyMOR(dst, latest, Seq("skey"), "op")
          ()
        }
        .start()
      q.awaitTermination()
      dstIo.applyDeletes(dst)
      // decimal-free final schema (driver-hash rule); exact for cents
      dstIo.read(dst)
        .withColumn("bal", col("bal").cast("double"))
        .orderBy(col("skey"), col("s_name"), col("bal"))
    }),

    // CHANGELOG OVER MERGE-ON-READ HISTORY (Iceberg's changelog-with-
    // deletes, r16): a MOR commit changes no files, but the changelog
    // reports the rows its delete entries kill — computed from the
    // entries' own parquet against the pre-commit live state — and
    // applyDeletes nets to ZERO because the file diff runs against the
    // MERGED content of removed files. The scripted history: position
    // delete (kills report at v2), equality upsert (DELETE old image +
    // INSERT new row at v3), applyDeletes (nothing at v4). This is CDC
    // completeness over the cheap-write path: zero-read MOR commits
    // stay O(batch) to write AND their consumers still get exact
    // row-level history, no "apply first" wall.
    "q137_mor_changelog" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_morcl_"))
      val t = "default.supp_mcl"
      val base = Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"),
        col("s_acctbal").cast("decimal(12,2)").as("bal"))
      io.overwrite(base, t) // v1
      val (_, nDel) = io.deleteWhereMOR(t, col("skey") % 3 === 1) // v2: dirty
      require(nDel > 0, "MOR delete matched nothing")
      val batch = base.filter(col("skey").between(2, 6))
        .select(col("skey"), col("s_name"),
          (col("bal") + 10).cast("decimal(12,2)").as("bal"))
        .unionByName(base.filter(col("skey") === 1)
          .select((col("skey") + 2000).as("skey"),
            concat(lit("n_"), col("s_name")).as("s_name"), col("bal")))
      io.upsertMOR(t, batch, Seq("skey")) // v3: still dirty
      io.applyDeletes(t) // v4: nets zero changelog rows
      io.readChangelog(t)
        .select(col("skey"), col("s_name"),
          // decimal-free final schema (driver-hash rule); exact for cents
          col("bal").cast("double").as("bal"),
          col("_change_type"), col("_change_version"))
        .orderBy(col("_change_version"), col("_change_type"), col("skey"),
          col("s_name"), col("bal"))
    }),

    // Branch CHANGELOG — the audit question itself: "what exactly will
    // fast_forward publish?" The branch accumulates an append and a
    // COW DELETE (via the WAP session conf); readChangelog on the branch diffs
    // the branch chain from the fork baseline and reports the NET
    // row-level changes — appended rows as INSERTs at branch v2,
    // predicate-matched rows (including just-appended ones) as DELETEs
    // at branch v3, with rewrite-carried rows cancelling out. Branch
    // versions restart at 1 per fork, so the version column is
    // deterministic and hash-oracled.
    "q130_branch_changelog" -> ((s, dir) => {
      val cname = "gbc"
      val io = catalogIO(s, cname, "graft_bchg_")
      val t = "default.supp_bc"
      io.overwrite(Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"), col("s_acctbal").cast("decimal(12,2)").as("bal")), t)
      io.dropBranch(t, "cdc") // reruns share the warehouse: fresh fork
      io.createBranch(t, "cdc") // branch v1 = fork record
      io.append(Tables.supplier(s, dir)
        .filter(col("s_suppkey").between(3, 7))
        .select((col("s_suppkey").cast("bigint") + 1000).as("skey"),
          concat(lit("x_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal")), t, ref = Ref.Branch("cdc")) // v2
      s.conf.set("spark.wap.branch", "cdc")
      try s.sql(s"DELETE FROM $cname.$t WHERE skey % 4 = 1") // v3: COW on the branch
      finally s.conf.unset("spark.wap.branch")
      io.readChangelog(t, Ref.Branch("cdc").origin, ref = Ref.Branch("cdc"))
        .select(col("_change_type"), col("_change_version"),
          // decimal-free final schema (driver-hash rule); exact for cents
          col("skey"), col("s_name"), col("bal").cast("double").as("bal"))
        // deterministic output: changelog row order is file-scheduling
        // dependent — 31 rows, the sort is free
        .orderBy(col("_change_version"), col("_change_type"), col("skey"),
          col("s_name"), col("bal"))
    }),

    // BRANCH changelog as a STREAM (Iceberg's branch CDC, r17): the
    // WAP auditor follows the audit branch's own changes live —
    // `readStream.table("<t>.changelog")` with option(branch) serves
    // the branch chain per micro-batch, offsets embed the FORK ID
    // minted at createBranch so a drop+re-create invalidates the
    // checkpoint loudly (branch version numbering restarts per fork;
    // refusal spec-pinned in ChangelogStreamSpec). The scripted branch
    // history: append at branch v2, zero-read MOR delete at v3 whose
    // kills span base AND branch-appended files. Main never moves.
    "q138_branch_stream_cdc" -> ((s, dir) => {
      val cname = "gbst"
      val io = catalogIO(s, cname, "graft_bst_")
      val t = "default.supp_bs"
      io.catalog.dropTable(t) // reruns share the session warehouse: fresh fork
      io.overwrite(Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"), col("s_acctbal").cast("decimal(12,2)").as("bal")), t)
      val vMain = io.catalog.currentVersion(t).get
      io.createBranch(t, "wap") // branch v1 = fork record
      io.append(Tables.supplier(s, dir)
        .filter(col("s_suppkey").between(3, 7))
        .select((col("s_suppkey").cast("bigint") + 1000).as("skey"),
          concat(lit("x_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal")), t, ref = Ref.Branch("wap")) // branch v2
      io.deleteWhereMOR(t, col("skey") % 4 === 1, ref = Ref.Branch("wap")) // branch v3
      require(io.catalog.currentVersion(t).contains(vMain),
        "branch history leaked to main: version advanced")
      val drainIo = TableIO(s, tempDir("graft_bstd_"))
      val q = s.readStream.option("branch", "wap").table(s"$cname.$t.changelog")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tempDir("graft_bstc_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.TableSink.commitStreamBatch(
            drainIo, "default.drained", id, batch)
          ()
        }
        .start()
      q.awaitTermination()
      // decimal-free final schema (driver-hash rule); exact for cents
      drainIo.read("default.drained")
        .withColumn("bal", col("bal").cast("double"))
        .orderBy(col("_change_version"), col("_change_type"), col("skey"),
          col("s_name"), col("bal"))
    }),

    // Merge-on-read position deletes (Iceberg's MOR DELETE): the
    // delete records (file, row position) pairs in a small parquet and
    // commits METADATA-ONLY — asserted in-query: the data file list is
    // byte-identical across the delete. Both read states are
    // oracle-hashed: 'pending' rows come through the SQL catalog's V1
    // read bridge while the deletes are unapplied (the plan pins the
    // dirty version, so laziness cannot leak the applied state in),
    // 'applied' rows read the post-applyDeletes pure-scan table. At
    // 100 TB this is the right DELETE cost shape: O(matched rows) to
    // delete, O(dirty bytes) to materialize — never an O(table)
    // rewrite for a handful of rows.
    "q119_mor_delete" -> ((s, dir) => {
      val cname = "gmq"
      val io = catalogIO(s, cname, "graft_morq_")
      val t = "default.li_mor"
      io.overwrite(
        Tables.lineitem(s, dir).select(
          col("l_orderkey").cast("bigint").as("okey"),
          col("l_linenumber").cast("bigint").as("lnum"),
          col("l_quantity").cast("bigint").as("qty"))
          .filter(col("l_orderkey").cast("bigint") <= 2000),
        t)
      val v0 = io.catalog.currentVersion(t).get
      val files0 = io.catalog.manifest(t, v0)
      val (v1, deleted) = io.deleteWhereMOR(t, col("qty") <= 10)
      require(v1 == v0 + 1 && deleted > 0, s"MOR delete did not commit ($v1, $deleted)")
      require(io.catalog.manifest(t, v1) == files0,
        "MOR delete must be metadata-only: the data file list changed")
      // resolved NOW against the dirty snapshot — the merged scan pins
      // version v1, so this frame stays the pending-state read even
      // though it executes after applyDeletes below
      val pending = s.sql(
        s"SELECT 'pending' AS state, okey, lnum, qty FROM $cname.$t")
      val (v2, rewritten) = io.applyDeletes(t)
      require(v2 == v1 + 1 && rewritten > 0, "applyDeletes did not rewrite")
      require(io.catalog.pendingDeletes(t, v2).isEmpty, "deletes prop must clear")
      val applied = s.sql(
        s"SELECT 'applied' AS state, okey, lnum, qty FROM $cname.$t")
      // deterministic output: union row order is scheduling-dependent
      pending.unionByName(applied)
        .orderBy(col("state"), col("okey"), col("lnum"), col("qty"))
    }),

    // MOR UPDATE: ONE commit carrying a position-delete file (matched
    // rows) plus the replacement rows with the assignment applied —
    // asserted in-query: every pre-update data file survives the
    // commit. Both read states hash-oracled like q119.
    "q120_mor_update" -> ((s, dir) => {
      val cname = "gmu"
      val io = catalogIO(s, cname, "graft_moruq_")
      val t = "default.li_upd"
      io.overwrite(
        Tables.lineitem(s, dir).select(
          col("l_orderkey").cast("bigint").as("okey"),
          col("l_linenumber").cast("bigint").as("lnum"),
          col("l_quantity").cast("bigint").as("qty"))
          .filter(col("l_orderkey").cast("bigint") <= 1500),
        t)
      val v0 = io.catalog.currentVersion(t).get
      val files0 = io.catalog.manifest(t, v0).toSet
      val (v1, n) = io.updateWhereMOR(t, col("qty") >= 40,
        Map("qty" -> (col("qty") + 100)))
      require(v1 == v0 + 1 && n > 0, s"MOR update did not commit ($v1, $n)")
      require(files0.subsetOf(io.catalog.manifest(t, v1).toSet),
        "MOR update must keep every pre-update data file")
      val pending = s.sql(
        s"SELECT 'pending' AS state, okey, lnum, qty FROM $cname.$t")
      val (v2, _) = io.applyDeletes(t)
      require(io.catalog.pendingDeletes(t, v2).isEmpty, "deletes prop must clear")
      val applied = s.sql(
        s"SELECT 'applied' AS state, okey, lnum, qty FROM $cname.$t")
      // deterministic output: union row order is scheduling-dependent
      pending.unionByName(applied)
        .orderBy(col("state"), col("okey"), col("lnum"), col("qty"))
    }),

    // Equality-delete UPSERT (Iceberg's zero-read CDC write): the
    // batch appends its rows and commits its key set as an equality
    // delete scoped to the files that might hold them — NOTHING is
    // read at write time (asserted: every pre-batch data file survives
    // the commit), so a CDC batch costs O(batch) at any table size
    // where the COW upsert rewrites candidate files. Both read states
    // hash-oracled: pending resolves last-write-wins through the entry
    // chain (SQL V1 bridge), applied reads the materialized table.
    "q121_mor_upsert" -> ((s, dir) => {
      val cname = "gms"
      val io = catalogIO(s, cname, "graft_morsq_")
      val t = "default.supp_cdc"
      // key windows sized for the SMALLEST fixture (sf0.001 has
      // suppliers 0-9): base 0-6, batch 4-8 = 3 updates + 2 inserts
      io.overwrite(
        Tables.supplier(s, dir).filter(col("s_suppkey") <= 6)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal").as("bal")),
        t)
      val v0 = io.catalog.currentVersion(t).get
      val files0 = io.catalog.manifest(t, v0).toSet
      val batch = Tables.supplier(s, dir)
        .filter(col("s_suppkey").between(4, 8))
        .select(col("s_suppkey"), col("s_name"), (col("s_acctbal") * 0.5).as("bal"))
      val (v1, n) = io.upsertMOR(t, batch, Seq("s_suppkey"))
      require(v1 == v0 + 1 && n > 0, s"MOR upsert did not commit ($v1, $n)")
      require(files0.subsetOf(io.catalog.manifest(t, v1).toSet),
        "MOR upsert must keep every pre-batch data file (zero-read write)")
      val pending = s.sql(
        s"SELECT 'pending' AS state, s_suppkey, s_name, bal FROM $cname.$t")
      val (v2, _) = io.applyDeletes(t)
      require(io.catalog.pendingDeletes(t, v2).isEmpty, "deletes prop must clear")
      val applied = s.sql(
        s"SELECT 'applied' AS state, s_suppkey, s_name, bal FROM $cname.$t")
      // deterministic output: union row order is scheduling-dependent
      pending.unionByName(applied)
        .orderBy(col("state"), col("s_suppkey"), col("s_name"), col("bal"))
    }),

    // MOR observability: the `.deletes` metadata table profiles the
    // current snapshot's pending delete files (kind, rows, dirty-file
    // fan-out, equality key columns) — an O(entries) metadata read.
    // The scripted op sequence (one position delete, one equality
    // upsert over a single-file table) fully determines the rows, so a
    // literal oracle pins them.
    "q122_deletes_meta" -> ((s, dir) => {
      val cname = "gdm"
      val io = catalogIO(s, cname, "graft_dmeta_")
      val t = "default.supp_dm"
      // key windows sized for the SMALLEST fixture (sf0.001 has
      // suppliers 0-9) so graft.Plans can run the script too
      io.overwrite(
        Tables.supplier(s, dir).filter(col("s_suppkey") <= 50)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
          .coalesce(1), // ONE data file: deterministic dirty fan-out
        t)
      val (_, nDel) = io.deleteWhereMOR(t, col("s_suppkey").between(2, 6))
      require(nDel == 5, s"expected 5 position deletes, got $nDel")
      val batch = Tables.supplier(s, dir)
        .filter(col("s_suppkey").isin(7, 8))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .unionByName(Tables.supplier(s, dir).filter(col("s_suppkey") === 1)
          // a brand-new key, type-exact (derived, not a literal)
          .select((col("s_suppkey") + 998).as("s_suppkey"),
            col("s_name"), col("s_acctbal")))
      val (_, nUp) = io.upsertMOR(t, batch, Seq("s_suppkey"))
      require(nUp == 3, s"expected a 3-row upsert batch, got $nUp")
      s.sql(s"SELECT kind, delete_rows, n_dirty_files, key_cols FROM $cname.$t.deletes")
    }),

    // Streaming CDC, merge-on-read flavor: q91's latest-state-per-key
    // sink where every micro-batch is a ZERO-READ equality-delete
    // commit (upsertMOR) instead of a candidate-file rewrite. The
    // hashed output is the post-applyDeletes table; pending == applied
    // equivalence is spec-pinned (MorUpsertSpec's streaming tests
    // assert both read states against the same expected set), so the
    // benched query prices the OPERATOR, not a proof.
    "q123_stream_mor_upsert" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_umor_"))
      withStreamShuffle(s) {
        graft.streaming.TableSink.upsertStreamMOR(
          eventsFileStream(s, dir), io, "default.user_state_mor",
          tempDir("graft_ckptm_"), keyCols = Seq("user_id"),
          orderCols = Seq("ts", "event_id"), availableNow = true)
          .awaitTermination()
      }
      io.applyDeletes("default.user_state_mor")
      io.read("default.user_state_mor")
    }),

    // FULL CDC apply with DELETE events, zero-read: events become a
    // CDC feed (a purchase DELETES the user's state — "account
    // closed"; anything else upserts), applied in two strictly-ordered
    // batches split at the time midpoint, each reduced to its latest
    // op per user. A user deleted in batch 1 with later activity in
    // batch 2 resurrects; a user whose GLOBAL latest event is a
    // purchase ends absent — so the final table is the per-user argmax
    // with purchase-latest users removed, which is the oracle. Both
    // batches are single zero-read commits (cdcApplyMOR); pending ==
    // applied equivalence is spec-pinned (MorUpsertSpec asserts both
    // read states against the same expected set), so the benched query
    // prices the operator, not a four-pass equality proof.
    "q124_cdc_mor_apply" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_cdcq_"))
      val t = "default.account_state"
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (tMin, tMax) = (mm.getTimestamp(0), mm.getTimestamp(1))
      val cutoff = new java.sql.Timestamp((tMin.getTime + tMax.getTime) / 2)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      def latestPerUser(df: DataFrame): DataFrame =
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      def asCdc(df: DataFrame): DataFrame = df.withColumn("op",
        when(col("event_type") === "purchase", lit("D")).otherwise(lit("U")))
      val batch1 = asCdc(latestPerUser(ev.filter(col("ts") < lit(cutoff))))
      val batch2 = asCdc(latestPerUser(ev.filter(col("ts") >= lit(cutoff))))
      io.cdcApplyMOR(t, batch1, Seq("user_id"), "op")
      io.cdcApplyMOR(t, batch2, Seq("user_id"), "op")
      io.applyDeletes(t)
      io.read(t)
    }),

    // SQL row-level DML over a DIRTY merge-on-read snapshot (Iceberg's
    // COW-over-MOR): UPDATE and MERGE run while position deletes are
    // pending — the rewrite scans the deletes-MERGED frame (deleted
    // rows can never resurrect) and CONSUMES the rewritten files'
    // delete entries in the same commit. The script: MOR-delete ⅓ of
    // suppliers, SQL UPDATE the dirty table (commits clean — asserted),
    // stack a second MOR delete, SQL MERGE the dirty table (matched
    // update + not-matched insert; a MOR-deleted key re-enters as an
    // INSERT). Output = the dirty-snapshot 'pending' read (V1 bridge)
    // plus the 'final' post-MERGE table, both hash-oracled against a
    // pure-SQL replay.
    "q125_dirty_dml" -> ((s, dir) => {
      val cname = "gdd"
      val io = catalogIO(s, cname, "graft_ddml_")
      val t = "default.supp_dd"
      io.overwrite(Tables.supplier(s, dir).select(
        col("s_suppkey").cast("bigint").as("skey"),
        col("s_name"),
        col("s_acctbal").cast("decimal(12,2)").as("bal")), t)
      val v0 = io.catalog.currentVersion(t).get
      val files0 = io.catalog.manifest(t, v0)
      val (v1, nDel) = io.deleteWhereMOR(t, col("skey") % 3 === 1)
      require(v1 == v0 + 1 && nDel > 0, s"MOR delete did not commit ($v1, $nDel)")
      require(io.catalog.manifest(t, v1) == files0,
        "MOR delete must be metadata-only: the data file list changed")
      // pinned dirty-version read (V1 bridge) — stays 'pending' even
      // though it executes after the DML below
      val pending = s.sql(s"SELECT 'pending' AS state, skey, s_name, bal FROM $cname.$t")
      // UPDATE over the dirty snapshot: % is not a pushable filter, so
      // every file is a rewrite candidate — all entries consumed, the
      // commit is CLEAN (spec-pinned partial-consumption lives in
      // MorDeleteSpec; here the headline is one-commit DML-on-dirty)
      s.sql(s"UPDATE $cname.$t SET bal = bal + 100 WHERE skey % 5 = 0")
      val vU = io.catalog.currentVersion(t).get
      require(io.catalog.pendingDeletes(t, vU).isEmpty,
        "UPDATE over the dirty snapshot must consume the rewritten files' delete entries")
      val (_, nDel2) = io.deleteWhereMOR(t, col("skey") % 4 === 2)
      require(nDel2 > 0, "second MOR delete matched nothing")
      Tables.supplier(s, dir).filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey").cast("bigint").as("skey"),
          concat(lit("m_"), col("s_name")).as("s_name"),
          col("s_acctbal").cast("decimal(12,2)").as("bal"))
        .unionByName(Tables.supplier(s, dir).filter(col("s_suppkey") % 2 === 0)
          .select((col("s_suppkey").cast("bigint") + 1000).as("skey"),
            concat(lit("m_"), col("s_name")).as("s_name"),
            col("s_acctbal").cast("decimal(12,2)").as("bal")))
        .createOrReplaceTempView("dd_src")
      s.sql(
        s"""MERGE INTO $cname.$t tgt USING dd_src src ON tgt.skey = src.skey
           |WHEN MATCHED THEN UPDATE SET s_name = src.s_name, bal = src.bal
           |WHEN NOT MATCHED THEN INSERT (skey, s_name, bal)
           |  VALUES (src.skey, src.s_name, src.bal)""".stripMargin)
      s.catalog.dropTempView("dd_src")
      val vM = io.catalog.currentVersion(t).get
      require(io.catalog.pendingDeletes(t, vM).isEmpty,
        "MERGE over the dirty snapshot must consume the delete entries")
      val fin = s.sql(s"SELECT 'final' AS state, skey, s_name, bal FROM $cname.$t")
      // deterministic output: the union's physical row order is
      // scheduling-dependent — 200 rows, the sort is free
      // decimal-free final schema (driver-hash rule); exact for cents
      pending.unionByName(fin).select(col("state"), col("skey"), col("s_name"),
        col("bal").cast("double").as("bal"))
        .orderBy(col("state"), col("skey"), col("s_name"), col("bal"))
    }),
    // Analytic windows: lag + exact running total per supplier
    "q35_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("ship_date"), col("l_orderkey"), col("l_linenumber"))
      Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .filter(col("l_suppkey") < 20)
        .select(
          col("l_suppkey"), col("ship_date"), col("l_orderkey"), col("l_linenumber"), col("revenue"),
          lag(col("l_orderkey"), 1).over(w).as("prev_orderkey"),
          sum(col("revenue").cast("decimal(30,4)")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          ).cast("double").as("running_revenue")
        )
    }),

    // Grouping sets: ROLLUP hierarchy totals in one Expand+aggregate
    // (reference has no grouping-sets capability at all)
    "q33_rollup_summary" -> ((s, dir) =>
      Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .rollup(col("ship_year"), col("ship_month"))
        .agg(
          count(lit(1)).as("n_lines"),
          graft.functions.ExactAgg.dsum(col("revenue"), 4).as("revenue"),
          grouping(col("ship_month")).cast("int").as("is_year_total"),
          grouping(col("ship_year")).cast("int").as("is_grand_total")
        )),
    // Exact brute-force cosine top-k ANN (ranking only: fp-stable output)
    "q19_ann_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), nQueries = 16, k = 5)
        .select(col("q_id"), col("neighbor_id"), col("rn"))),
    // LSH-bucketed approximate ANN — portable md5 planes, so the full
    // bucket/probe/rank pipeline replays in the SQL oracle; recall
    // floors stay pinned in EventsSimilaritySpec
    "q20_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), nQueries = 16, k = 5)
        .select(col("q_id"), col("neighbor_id"), col("rn"))),

    // ---- multimodal binary columns ----

    // Blob metadata projection (binary col pruned: metadata-only scan)
    "q21_multimodal_meta" -> ((s, dir) =>
      Multimodal.metaStats(Multimodal.withBlob(Tables.documents(s, dir)))),
    // Per-format corpus rollup over blob metadata
    "q22_multimodal_format_summary" -> ((s, dir) =>
      Multimodal.formatSummary(Multimodal.withBlob(Tables.documents(s, dir)))),
    // Batch decode via typed mapPartitions (stub kernel; deterministic
    // byte stats, so oracle-checkable on the UTF-8 payload)
    "q23_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(Multimodal.withBlob(Tables.documents(s, dir)))),

    // S9: header-CSV dimension source (the reference ships
    // taxi-zone-lookup.csv as the realistic dim source, README.md:50)
    // joined against a fact-side aggregate — broadcast-joined lookup
    "q24_csv_lookup_join" -> ((s, dir) => {
      val lookup = Dimensions.locationDimFromLookup(
        s.read.option("header", "true").csv("/root/repo/data/zone-lookup.csv"),
        "LocationID", "Borough", "Zone")
      val custByNation = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").cast("int").as("location_id"))
        .agg(count(lit(1)).as("n_customers"))
      custByNation
        .join(broadcast(lookup), Seq("location_id"))
        .select(col("location_id"), col("borough"), col("zone"), col("n_customers"))
    }),

    // Full ANSI SQL front end over registered views (the reference has
    // no SQL surface at all — its README verification queries run in a
    // spark-shell; here the same engine parses/plans/optimizes SQL)
    "q25_sql_front_end" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(
        """SELECT o.o_orderpriority,
          |  count(*) AS n_lines,
          |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE l.l_shipdate > o.o_orderdate
          |GROUP BY o.o_orderpriority""".stripMargin)
    }),

    // Full-star rollup touching every TPC-H-ish table role: lineitem
    // x part (mfgr) x supplier->nation->region — broadcast dims again
    "q31_part_region_summary" -> ((s, dir) => {
      val li = Ingestion.cleanLineitem(Tables.lineitem(s, dir))
      li.join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
        .agg(
          count(lit(1)).as("n_lines"),
          graft.functions.ExactAgg.dsum(col("revenue"), 4).as("revenue"),
          countDistinct(col("l_suppkey")).as("n_suppliers")
        )
    }),

    // Dedup-filtered corpus: one representative per exact-content group
    "q29_dedup_corpus" -> ((s, dir) =>
      Dedup.dropExactDuplicates(Tables.documents(s, dir))),
    // Corpus vocabulary: top-k tokens by total frequency (explode ->
    // two-level aggregate, deterministic tiebreak)
    "q30_vocab_topk" -> ((s, dir) =>
      TextAnalysis.topTokens(Tables.documents(s, dir), k = 100)),

    // IVF-bucketed ANN — portable md5 sample order + exact-grid Lloyd
    // means, so training and probing replay in the SQL oracle; recall
    // floors stay pinned in EventsSimilaritySpec
    "q28_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), nQueries = 16, k = 5)
        .select(col("q_id"), col("neighbor_id"), col("rn"))),

    // DISTRIBUTED centroid training (r18 — the big-k path
    // trainCentroids refuses above nlist 4096): the same Lloyd rounds
    // as q28's training, but centroids stay a (cell, vector) FRAME end
    // to end — assignment is a broadcast nested-loop folded into a
    // map-side max aggregate, means are the posexplode hash-agg, and
    // the driver never sees a vector at any k. Value parity with the
    // driver loop is spec-pinned (EventsSimilaritySpec trains k=10^4
    // without a collect); the oracle replays both rounds in SQL and
    // must land on bit-identical centroids.
    "q149_distributed_centroids" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        expr(Similarity.doubleVec("embedding")).as("v"))
      val cents = Similarity.trainCentroidsFrame(e, nlist = 16, iters = 2)
      val out = cents.select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .orderBy("cell", "pos")
      // pin the output before releasing the training cache
      val rows = out.collect()
      cents.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq), out.schema)
    }),

    // Embedding-cosine near-dup pairs: exact results via the
    // cell-bucketed triangle-inequality join (no corpus broadcast,
    // no nested loop; pinned equal to the all-pairs oracle by spec)
    "q27_embedding_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDuplicates(Tables.embeddings(s, dir), threshold = 0.4)),

    // Multimodal resize: exact target metadata + byte budget, stubbed
    // pixel kernel (payload truncation)
    "q26_multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeStub(Multimodal.withBlob(Tables.documents(s, dir)), 48, 48)
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.n_bytes").as("resized_bytes"),
          octet_length(col("blob")).cast("long").as("payload_bytes")
        )),

    // Frame sampling (video-pipeline demux step): one row per sampled
    // frame at a 64-byte stride, md5 per frame for frame-level dedup —
    // a generator in the scan pipeline, output O(frames) not O(blob)
    "q49_multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.withBlob(Tables.documents(s, dir)))),

    // Salted skew join as an oracle row: the explicit hot-key fan-out
    // must equal the plain join bit-for-bit (the salt never escapes)
    "q50_salted_join" -> ((s, dir) => {
      val big = Ingestion.cleanLineitem(Tables.lineitem(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("revenue"))
      val small = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"), col("s_nationkey"))
      graft.operators.Joins.saltedJoin(big, small, key = "l_suppkey", salt = 8)
    }),

    // Flagship curation composition — the end-to-end training-corpus
    // materialization the engine exists for: exact dedup -> per-doc
    // quality + language scoring -> threshold filter -> benchmark
    // decontamination. Every stage is bucketed/broadcast (no all-pairs,
    // corpus shuffles once for the dedup aggregate); each piece is
    // individually oracle-checked (q29/q15/q41), this row pins the
    // composition.
    "q51_corpus_curation" -> ((s, dir) => {
      // Score and filter BEFORE dedup: exact-duplicate groups share
      // identical text, hence identical scores, so the quality filter
      // keeps or drops a whole group together and min-id per group is
      // unchanged — filter-then-dedup is bit-for-bit dedup-then-filter
      // (same oracle SQL), and it shrinks what gets persisted.
      val scored = TextAnalysis.scoreDocuments(Tables.documents(s, dir))
        .filter(col("quality") >= 0.5)
        .select("doc_id", "text", "lang_pred", "quality", "n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ONE FileScan of documents total (plan-pinned): dedup's
      // aggregate + join-back and decontamination's three passes
      // (bench grams, dirty ids, anti-join) all read cached blocks —
      // at 100 TB the triple re-scan of the corpus was the dominant
      // avoidable I/O in this composition. The deduped stage is
      // persisted too so decon's three passes don't recompute the
      // semi-join; `scored` is released once deduped is materialized
      // (eviction degrades to recompute-from-files, never wrong).
      val deduped = Dedup.dropExactDuplicates(scored)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      deduped.count()
      scored.unpersist()
      graft.text.Contamination.decontaminate(deduped)
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    }),

    // ---- table-layer semantics as oracle rows (S8 / DML / CDC / streaming) ----

    // S8 oracle row: snapshot isolation across a row-level DELETE —
    // version 1 still returns every pre-delete row while the current
    // version has lost region 2 (previously pinned only by specs).
    // (Historical snapshots read under the table's CURRENT declared
    // schema — the documented Iceberg-lite simplification; this table
    // has no declared schema, so v1 reads its own footers.)
    "q45_time_travel" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_tt_"))
      io.overwrite(Tables.nation(s, dir), "default.nation_tt")
      io.deleteWhere("default.nation_tt", col("n_regionkey") === 2)
      io.readVersion("default.nation_tt", 1).withColumn("snap", lit("v1"))
        .unionAll(io.read("default.nation_tt").withColumn("snap", lit("v2")))
    }),

    // SQL MERGE INTO through the DSv2 catalog (file-scoped
    // copy-on-write): matched rows get balance += delta, unmatched
    // source rows insert — the post-merge table is the query result.
    // Catalog registration discipline lives in `catalogIO`.
    "q46_merge_dml" -> ((s, dir) => {
      val cname = "gq"
      val io = catalogIO(s, cname, "graft_mrg_")
      io.overwrite(
        Tables.supplier(s, dir).filter(col("s_suppkey") <= 80)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal").as("balance")),
        "default.supp_bal")
      Tables.supplier(s, dir).filter(col("s_suppkey") > 40)
        .select(col("s_suppkey"), col("s_name"), (col("s_acctbal") * 0.5).as("delta"))
        .createOrReplaceTempView(s"merge_src_$cname")
      s.sql(
        s"""MERGE INTO $cname.default.supp_bal t USING merge_src_$cname s
           |ON t.s_suppkey = s.s_suppkey
           |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_name, balance)
           |  VALUES (s.s_suppkey, s.s_name, s.delta)""".stripMargin)
      s.catalog.dropTempView(s"merge_src_$cname") // MERGE ran eagerly; result reads the table
      io.read("default.supp_bal")
    }),

    // Incremental (CDC-style) scan: two appends, then read ONLY the
    // rows snapshot 2 added — the consumer cost scales with the delta,
    // not the table (TableIO.readIncremental rejects non-append ranges)
    "q47_incremental_read" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_inc_"))
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.append(ords.filter(col("o_orderpriority") === "1-URGENT"), "default.orders_inc")
      io.append(ords.filter(col("o_orderpriority") === "2-HIGH"), "default.orders_inc")
      io.readIncremental("default.orders_inc", fromVersion = 1)
    }),

    // Structured Streaming ingest end-to-end as an oracle row: file
    // stream -> watermark-bounded dedup -> exactly-once snapshot sink
    // (Trigger.AvailableNow), then a batch rollup of the table the
    // stream wrote. Oracle = the same rollup over the raw events.
    "q48_stream_ingest" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_str_"))
      withStreamShuffle(s) {
        graft.streaming.TableSink.appendStream(
          graft.streaming.EventsStream.dedupedEvents(eventsFileStream(s, dir)),
          io, "default.events_ingest", tempDir("graft_ckpt_"), availableNow = true)
          .awaitTermination()
      }
      io.read("default.events_ingest")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          graft.functions.ExactAgg.dsum(col("value"), 2).as("total_value"))
    }),

    // S4 completion: partition-pruned read-back as an oracle row — the
    // reference's core partitioning value (IngestionJob.scala:83,
    // FactJob.scala:82): a Hive-layout `ship_year` append, then a read
    // with a partition predicate that must touch ONLY the matching
    // partition's files (file-skip pinned in PlanQualitySpec; this row
    // pins the rows that come back).
    "q52_partition_pruned" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_pp_"))
      io.append(
        graft.pipeline.Ingestion.cleanLineitem(Tables.lineitem(s, dir))
          .drop("ship_ts", "l_tax") // working columns q01's projection also drops
          // cluster the write by its partition column (Iceberg's hash
          // distribution-mode): without this every task writes a sliver
          // into every partition — tasks x partitions small files, each
          // paying a commit-time footer-stats read. At scale you'd
          // repartition(n, col) to also control file SIZE.
          .repartition(col("ship_year")),
        "default.lineitem_py", Seq("ship_year"))
      io.read("default.lineitem_py").filter(col("ship_year") === 1997)
    }),

    // Changelog (CDC) read ACROSS a delete — the consumer path
    // readIncremental (q47) rejects: append (v1), copy-on-write DELETE
    // (v2), then readChangelog replays the net row-level history as
    // INSERT/DELETE rows. Rows the v2 rewrite merely carried into new
    // files cancel out (file-diff + exceptAll), so only the truly
    // deleted rows surface at v2.
    "q53_changelog" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_cdc_"))
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.append(ords.filter(col("o_orderpriority") === "1-URGENT"), "default.orders_cdc")
      io.deleteWhere("default.orders_cdc", col("o_totalprice") >= 150000.0)
      io.readChangelog("default.orders_cdc")
    }),

    // q41's decontamination through the bloom pre-filter path: the
    // benchmark grams ship as a mergeable bloom sketch (~30x smaller
    // than the string broadcast), the corpus probes it in codegen, and
    // an exact semi-join on the survivors kills the fpp sliver — same
    // result bit for bit, same oracle SQL as q41
    "q54_decontaminate_bloom" -> ((s, dir) =>
      graft.text.Contamination.decontaminateBloom(
        Tables.documents(s, dir).select("doc_id", "text", "lang", "source"))
        .select("doc_id", "lang", "source")),

    // Incremental dedup: the corpus's LSH signatures are built ONCE and
    // PERSISTED through the table layer (an array<bigint> column through
    // the manifest/commit path); the incoming batch (md5 bucket >= 8 of
    // 10) computes only its own signatures, joins the stored index, and
    // re-shingles just the candidate corpus docs. Oracle = exact
    // cross-pair Jaccard over the same split (LSH recall is 1 on the
    // fixture, as q13 establishes).
    "q55_incremental_dedup" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_sigidx_"))
      val docs = Tables.documents(s, dir)
      val bucket = graft.sampling.Sampling.portableBucket("doc_id", 10)
      val corpus = docs.filter(bucket < 8)
      val batch = docs.filter(bucket >= 8)
      // signatures compute 32-way (CPU stage) but land in few files:
      // 4k index rows don't need 32 footer-stats reads per commit
      io.overwrite(Dedup.signatureIndex(corpus).repartition(4), "default.sig_index")
      Dedup.incrementalNearDups(
        batch, corpus, io.read("default.sig_index"), threshold = 0.7)
    }),

    // The embedding-modality twin of q55: a persisted IVF index
    // (centroids + per-cell radius + cell assignments, stored through
    // the table layer) and an incoming batch matched against it via
    // the angular triangle inequality + exact cosine — EXACT, so the
    // oracle is the cross-pair cosine join over the same split. The
    // corpus is never rescanned at query time.
    "q56_incremental_embedding_dedup" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_ividx_"))
      val emb = Tables.embeddings(s, dir)
      val bucket = graft.sampling.Sampling.portableBucket("vec_id", 10)
      val (cents, assigned) = graft.similarity.Similarity.embeddingIndex(emb.filter(bucket < 8))
      io.overwrite(cents, "default.emb_centroids")
      io.overwrite(assigned.repartition(4), "default.emb_index")
      graft.similarity.Similarity.incrementalEmbeddingNearDups(
        emb.filter(bucket >= 8),
        io.read("default.emb_centroids"), io.read("default.emb_index"),
        threshold = 0.4)
    }),

    // The incremental counterpart of q51's flagship curation: one
    // ingest INCREMENT curated end-to-end, every stage scaling with
    // the batch rather than the corpus — exact-dedup within the batch
    // and against corpus content hashes, quality/langid scoring,
    // benchmark decontamination, and near-dup rejection against the
    // corpus's PERSISTED signature index (q55's path). Within-batch
    // near-dups are deliberately out of scope (that is q13/q40 run on
    // the batch); this row is the batch-vs-corpus admission decision.
    "q57_incremental_curation" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_incur_"))
      val docs = Tables.documents(s, dir)
      val b10 = graft.sampling.Sampling.portableBucket("doc_id", 10)
      val corpus = docs.filter(b10 < 8)
      val batch = docs.filter(b10 >= 8)
      io.overwrite(Dedup.signatureIndex(corpus).repartition(4), "default.cur_sig")
      val dedupB = Dedup.dropExactDuplicates(batch)
        .join(corpus.select(expr("md5(text)").as("__ch")).distinct(),
          expr("md5(text)") === col("__ch"), "left_anti")
      val scored = TextAnalysis.scoreDocuments(dedupB)
        .filter(col("quality") >= 0.5)
      val b1000 = graft.sampling.Sampling.portableBucket("doc_id", 1000)
      val bench = graft.text.Contamination.benchGrams(docs)
      // the dedup+scoring chain has several downstream consumers (the
      // decon join, the near-dup probe, the final projection) —
      // materialize it once; checkpoint blocks die with the returned
      // frame
      val cand = scored.filter(b1000 >= 50).localCheckpoint(true)
      val clean = graft.text.Contamination.dropContaminated(cand, bench)
      val nd = Dedup.incrementalNearDups(clean.select("doc_id", "text"), corpus,
        io.read("default.cur_sig"), threshold = 0.7).select("doc_id").distinct()
      clean.join(broadcast(nd), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    }),

    // The fuzzy twin of q29's exact-dedup corpus: keep ONE doc per
    // near-dup cluster (the min-id representative q40 computes), drop
    // the rest — the standard MinHash-dedup output shape. Keep set is
    // O(docs), so it shuffles into a semi-join, never broadcasts.
    "q58_fuzzy_dedup_corpus" -> ((s, dir) =>
      Dedup.fuzzyDedupCorpus(Tables.documents(s, dir), threshold = 0.7)
        .select("doc_id", "lang", "source", "n_chars")),

    // PII redaction battery: emails / IPv4s / phone fragments replaced
    // by typed placeholders + per-category counts, one codegen'd
    // projection, no shuffle. The synthetic corpus carries no PII, so
    // a deterministic PII-bearing prefix is derived from (doc_id,
    // source) IDENTICALLY on the oracle side — what's under test is
    // the redaction kernel, not the fixture. Categories appear or not
    // per doc (doc_id mod), so the counts take every value in range.
    "q59_pii_redact" -> ((s, dir) => {
      val R = graft.text.Redaction
      def str(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c.cast("string")
      val raw = concat(
        lit("user"), str(col("doc_id")), lit("@"), col("source"), lit(".example.com "),
        when(pmod(col("doc_id"), lit(3)) > 0,
          concat(lit("call 555-"), lpad(str(pmod(col("doc_id"), lit(10000))), 4, "0"), lit(" ")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("from 10.0."), str(pmod(col("doc_id"), lit(256))), lit("."),
            str(pmod(col("doc_id") * 7, lit(256))), lit(" ")))
          .otherwise(lit("")),
        col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), raw.as("__raw"))
        .select(col("doc_id"), col("source"),
          R.emailCount(col("__raw")).as("n_emails"),
          R.ipv4Count(col("__raw")).as("n_ips"),
          R.phoneCount(col("__raw")).as("n_phones"),
          R.redactPii(col("__raw")).as("redacted"))
    }),

    // Schema evolution through the DSv2 catalog as an oracle row:
    // ADD COLUMN surfaces null-filled over files written before the
    // column existed, and RENAME COLUMN is metadata-only (no file is
    // rewritten — old files keep the physical name, the read aliases
    // it back). Same one-catalog-name-per-session discipline as q46.
    "q60_schema_evolution" -> ((s, dir) => {
      val cname = "gevo"
      val io = catalogIO(s, cname, "graft_evo_")
      // repeat runs: drop + recreate so the DDL below is idempotent
      // (GraftCatalog.loadTable reads from disk per resolution — no
      // table-instance cache to invalidate)
      if (io.catalog.tableExists("default.nation_evo"))
        io.catalog.dropTable("default.nation_evo")
      val nat = Tables.nation(s, dir)
      io.overwrite(nat.filter(col("n_nationkey") < 13).select("n_nationkey", "n_name"),
        "default.nation_evo")
      s.sql(s"ALTER TABLE $cname.default.nation_evo ADD COLUMN region_name STRING")
      io.append(
        nat.filter(col("n_nationkey") >= 13)
          .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name")),
        "default.nation_evo")
      s.sql(s"ALTER TABLE $cname.default.nation_evo RENAME COLUMN n_name TO nation_name")
      io.read("default.nation_evo")
    }),

    // Second streaming oracle row (§2.10): WINDOWED STATEFUL
    // AGGREGATION end-to-end — file stream -> 1-hour tumbling windows
    // (watermarked state) -> complete-mode snapshot sink (per-batch
    // atomic overwrite; the materialized-view shape, vs q48's
    // append/ledger shape). Oracle = the same hourly rollup over raw
    // events. total_value uses the decimal-exact sum so the streamed
    // aggregate is cross-engine comparable.
    "q61_stream_hourly" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_swin_"))
      withStreamShuffle(s) {
        graft.streaming.TableSink.completeStream(
          graft.streaming.EventsStream.hourlyCounts(eventsFileStream(s, dir), exactValue = true),
          io, "default.events_hourly_s", tempDir("graft_ckpt_w_"), availableNow = true)
          .awaitTermination()
      }
      io.read("default.events_hourly_s")
    }),

    // Snapshot rollback through the SQL procedure (Iceberg's
    // rollback_to_snapshot): a bad append is undone by RESTORING the
    // good snapshot's state as a new current version — metadata-only
    // (no file rewritten), history stays readable for audit. The
    // result is the table AFTER rollback = the good rows only.
    "q62_rollback" -> ((s, dir) => {
      val cname = "grb"
      val io = catalogIO(s, cname, "graft_rb_")
      val t = "default.orders_rb"
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      // overwrite (not append) so repeat runs are idempotent
      io.overwrite(ords.filter(col("o_orderpriority") === "1-URGENT"), t) // good
      val good = io.catalog.currentVersion(t).get
      io.append(ords.filter(col("o_orderpriority") === "2-HIGH"), t)      // the bad commit
      s.sql(s"CALL $cname.system.rollback_to_snapshot('$t', $good)").collect()
      io.read(t)
    }),

    // Compaction as an oracle row: many small files in, same ROWS out
    // (bit-for-bit — the rewrite changes layout, never content), via
    // the SQL procedure. The file-count collapse itself is pinned by
    // ClusteringSpec; this row pins content preservation.
    "q63_compact" -> ((s, dir) => {
      val cname = "gcm"
      val io = catalogIO(s, cname, "graft_cmp_")
      val t = "default.supp_cmp"
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      // two deliberately fragmented commits: 16 small files pre-compact
      io.overwrite(sup.filter(col("s_suppkey") % 2 === 0).repartition(8), t)
      io.append(sup.filter(col("s_suppkey") % 2 === 1).repartition(8), t)
      s.sql(s"CALL $cname.system.compact('$t')").collect()
      io.read(t)
    }),

    // MERGE with ALL clause families through the DSv2 row-level path —
    // beyond q46's matched/insert: a conditional MATCHED DELETE, a
    // MATCHED UPDATE, NOT MATCHED INSERT, and NOT MATCHED BY SOURCE
    // UPDATE (rows the source no longer mentions get zeroed) in one
    // statement.
    "q64_merge_full" -> ((s, dir) => {
      val cname = "gmf"
      val io = catalogIO(s, cname, "graft_mf_")
      val t = "default.supp_mrg"
      io.overwrite(
        Tables.supplier(s, dir).filter(col("s_suppkey") <= 60)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal").as("balance")), t)
      Tables.supplier(s, dir)
        .filter(col("s_suppkey") > 30 && col("s_suppkey") <= 90)
        .select(col("s_suppkey"), col("s_name"), (col("s_acctbal") * 0.5).as("delta"))
        .createOrReplaceTempView(s"merge_src_$cname")
      s.sql(
        s"""MERGE INTO $cname.default.supp_mrg t USING merge_src_$cname s
           |ON t.s_suppkey = s.s_suppkey
           |WHEN MATCHED AND s.delta < 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_name, balance)
           |  VALUES (s.s_suppkey, s.s_name, s.delta)
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET balance = 0.0""".stripMargin)
      s.catalog.dropTempView(s"merge_src_$cname")
      io.read(t)
    }),

    // Write-audit-publish (Iceberg's WAP): the ingest batch is STAGED
    // (data written once, invisible to readers), audited via the
    // staged view, then PUBLISHED as a metadata-only commit. The row
    // checks the full lifecycle: the public read must NOT see staged
    // rows pre-publish, and the result is the published union.
    "q65_wap" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_wap_"))
      val t = "default.orders_wap"
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.overwrite(ords.filter(col("o_orderpriority") === "1-URGENT"), t)
      val sid = io.appendStaged(ords.filter(col("o_orderpriority") === "2-HIGH"), t)
      val publicRows = io.read(t).count()
      val auditRows = io.readStaged(t, sid).count() // the audit pass
      require(publicRows < auditRows,
        s"staged rows leaked into the public read ($publicRows vs audit $auditRows)")
      io.publishStaged(t, sid)
      io.read(t)
    }),

    // TIMESTAMP AS OF time travel: the commit instant is the manifest
    // mtime (hard-linked into place fully formed), resolution =
    // newest snapshot at or before the instant. The row reads the
    // v1 instant back ALONGSIDE the current head — same shape as
    // q45's version-based row.
    "q66_time_travel_ts" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_tts_"))
      val t = "default.nation_ts"
      val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      io.overwrite(nat.filter(col("n_nationkey") < 13), t)
      val v1 = io.catalog.currentVersion(t).get
      val ts = java.nio.file.Files.getLastModifiedTime(
        io.catalog.metaPath(t).resolve(s"v$v1.json")).toMillis
      // determinism guard: the next commit must land in a LATER
      // millisecond than ts, or the as-of read would see it
      while (System.currentTimeMillis() <= ts + 1) Thread.sleep(1)
      io.append(nat.filter(col("n_nationkey") >= 13), t)
      io.readAsOf(t, ts).withColumn("snap", lit("asof"))
        .unionAll(io.read(t).withColumn("snap", lit("head")))
    }),

    // Mixture balancing: every language deterministically downsampled
    // to the rarest language's volume (quantized by the bucket space)
    // — the proportioning pass that keeps a dominant slice from
    // drowning rare ones (lang is the skewed column in this corpus:
    // en is ~3x fr). One O(strata) aggregate + broadcast threshold
    // join; the membership test stays a scalar scan predicate.
    "q67_mixture_balance" -> ((s, dir) =>
      graft.sampling.Sampling.mixtureBalance(
        Tables.documents(s, dir).select("doc_id", "lang", "source"), "lang")
        .select("doc_id", "lang", "source")),

    // Per-label embedding centroids: mean-pool each label's vectors —
    // the cluster-prototype aggregation. Decimal-exact element sums so
    // the means hash-match the oracle; shuffle is labels x dim after
    // the map-side combine, never rows x dim. The centroid ARRAY is
    // flattened back to (label, pos, mean) rows for the compare — the
    // harness hashes scalar cells, not arrays.
    "q68_embedding_centroids" -> ((s, dir) =>
      graft.similarity.Similarity.labelCentroids(Tables.embeddings(s, dir))
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("pos", "mean")))),

    // Bucketed co-located fact-x-fact join: both sides written
    // hash-clustered 8 ways on the join key, so the sort-merge join
    // runs with ZERO query-time Exchange on either side (pinned by
    // BucketingSpec + PLANS.md) — the write-once/join-many layout
    // strategy for the 100 TB repeated-join workload. The aggregate
    // after the join re-keys on (priority, flag), so that single
    // post-join exchange is the whole shuffle cost of the query.
    "q69_bucketed_join" -> ((s, dir) => {
      val loc = tempDir("graft_bkt_")
      graft.operators.Bucketing.writeBucketed(s,
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_returnflag")),
        "graft_li_bkt", "l_orderkey", 8, s"$loc/li")
      graft.operators.Bucketing.writeBucketed(s,
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        "graft_ord_bkt", "o_orderkey", 8, s"$loc/ord")
      graft.operators.Bucketing.bucketedJoin(s,
          "graft_li_bkt", "graft_ord_bkt", "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_items"),
          graft.functions.ExactAgg.dsum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
    }),

    // Per-document keyword extraction (TF-IDF shape, integer-exact
    // ranking): explode -> (doc, token) tf agg -> corpus df -> top-3
    // per doc. The idf signal is the df ASC tie-break — rarer corpus
    // terms win — with no float score to drift across engines.
    "q70_doc_keywords" -> ((s, dir) =>
      TextAnalysis.docKeywords(Tables.documents(s, dir), k = 3)),

    // Quantized ANN: int8-style fixed-point vectors (floor(x*256),
    // exact in IEEE because the grid is a power of two) scored by
    // INTEGER dot product — the 4x-smaller-corpus scale path, and the
    // one ANN variant that hash-matches a SQL oracle exactly (q19 is
    // float-exact-but-ulp-fragile; q20/q28 are probabilistic).
    "q71_ann_quantized" -> ((s, dir) =>
      graft.similarity.Similarity.quantizedTopK(
        Tables.embeddings(s, dir), nQueries = 10, k = 10)),

    // Stream-stream watermarked inner join (§2.10 completion): views
    // joined to same-user clicks within a 6-hour horizon, both sides
    // state-bounded by watermark + time-range predicate, drained via
    // AvailableNow into the exactly-once table sink. On a finite
    // drain the inner join equals the batch join — the oracle row.
    "q72_stream_stream_join" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_ssj_"))
      withStreamShuffle(s) {
        graft.streaming.TableSink.appendStream(
          graft.streaming.EventsStream.viewClickJoin(
            eventsFileStream(s, dir), eventsFileStream(s, dir)),
          io, "default.view_clicks", tempDir("graft_ckpt_j_"), availableNow = true)
          .awaitTermination()
      }
      io.read("default.view_clicks")
        .select(col("view_id"), col("click_id"), col("user_id"),
          col("view_ts"), col("click_ts"))
    }),

    // Winnowing (rolling-hash) document fingerprints — the MOSS
    // selection scheme as one codegen'd projection; deterministic
    // substring-match detection, the complement of MinHash's
    // probabilistic whole-doc similarity (q12/q13).
    "q73_winnow_fingerprint" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir))),

    // Clone/boilerplate candidate pairs by shared winnow hashes, with
    // the deterministic df<=maxDf boilerplate mask bounding every
    // join bucket.
    "q74_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowCandidatePairs(Tables.documents(s, dir))),

    // Deterministic clone clusters: q74's pair graph at >=2 shared
    // hashes collapsed by the shared min-label CC engine (q40's loop,
    // extracted) — every document labeled with its component min.
    "q75_winnow_clusters" -> ((s, dir) =>
      Dedup.winnowClusters(Tables.documents(s, dir))),

    // The winnow-deduplicated corpus: min-id representative per clone
    // cluster, keep-set semi-join (the rolling-hash twin of q58).
    "q76_winnow_dedup_corpus" -> ((s, dir) =>
      Dedup.winnowDedupCorpus(Tables.documents(s, dir))
        .select("doc_id", "lang", "source")),

    // S7 as an ORACLE ROW (was spec-only): the catalog introspection
    // surface — SHOW TABLES through the DSv2 catalog, the .snapshots /
    // .files metadata tables, declared-schema width — reduced to
    // deterministic values. Tables are dropped and recreated so the
    // row is stable under repeat runs in one session.
    "q77_catalog_introspection" -> ((s, dir) => {
      val cname = "gmq"
      val io = catalogIO(s, cname, "graft_introspect_")
      Seq("nation_meta", "region_meta").foreach(t => io.catalog.dropTable(s"default.$t"))
      io.overwrite(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")), "default.nation_meta")
      io.overwrite(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name")), "default.region_meta")
      val shown = s.sql(s"SHOW TABLES IN $cname.default").collect()
        .map(_.getString(1)).filter(_.endsWith("_meta")).sorted
      import s.implicits._
      shown.toSeq.map { t =>
        val snaps = s.sql(s"SELECT count(*) FROM $cname.default.`$t`.snapshots").head().getLong(0)
        val files = s.sql(s"SELECT count(*) FROM $cname.default.`$t`.files").head().getLong(0)
        val nRows = io.read(s"default.$t").count()
        (t.stripSuffix("_meta"), snaps, files > 0L, nRows,
          io.read(s"default.$t").schema.size.toLong)
      }.toDF("table_name", "n_snapshots", "has_files", "n_rows", "n_cols")
    }),

    // S6 + A5 as an ORACLE ROW (were spec-only): the existence guard
    // observed before/after a create, plus count() actions on two
    // scans, folded into one deterministic row.
    "q78_existence_counts" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_exist_"))
      io.catalog.dropTable("default.guard_probe")
      val before = io.tableExists("default.guard_probe")
      io.append(Tables.region(s, dir).select(col("r_regionkey")), "default.guard_probe")
      val after = io.tableExists("default.guard_probe")
      val nNation = Tables.nation(s, dir).count()
      val nRegion = Tables.region(s, dir).count()
      import s.implicits._
      Seq((before, after, nNation, nRegion))
        .toDF("before_exists", "after_exists", "nation_rows", "region_rows")
    }),

    // Exact n-gram Jaccard self-join (AllPairs/PPJoin prefix
    // filtering): ALL pairs above the threshold, recall 1 by
    // construction — the deterministic complement of q13's
    // LSH-then-verify (which trades recall for candidate volume).
    // Verified on gram STRINGS end to end, so the brute-force DuckDB
    // oracle recomputes the identical answer.
    "q79_jaccard_join" -> ((s, dir) =>
      SetSimilarity.jaccardJoin(Tables.documents(s, dir), thresholdPct = 60)),

    // Multi-dimensional Z-order clustering as an oracle row: write a
    // fragmented copy of cleaned lineitem, CALL compact_zorder on two
    // independent key dimensions, read back a 2-D range slice. The
    // rewrite must be exactly row-preserving (the oracle filters the
    // raw parquet) while making BOTH range predicates file-skippable
    // (pinned in ClusteringSpec; a lexicographic sort only skips on
    // the leading column).
    "q80_zorder_pruned" -> ((s, dir) => {
      val cname = "gzo"
      val io = catalogIO(s, cname, "graft_zorder_")
      val t = "default.lineitem_z"
      io.overwrite(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"))
          .repartition(16), // deliberately fragmented pre-compact
        t)
      s.sql(s"CALL $cname.system.compact_zorder('$t', 'l_partkey', 'l_suppkey', 8)").collect()
      io.read(t).filter(
        col("l_partkey").between(100, 300) && col("l_suppkey").between(10, 30))
    }),

    // Exact second-moment statistics (corr/covar/stddev) from
    // order-independent decimal component sums — the built-ins
    // accumulate doubles in partition order and drift in the last
    // ulps; this shape is deterministic at any partition count and
    // hash-matches the oracle bit for bit.
    "q81_exact_corr" -> ((s, dir) =>
      Aggregations.exactCorrelation(
        Tables.lineitem(s, dir), "l_returnflag", "l_quantity", "l_extendedprice")),

    // Conversion funnel over the event stream: first view -> first
    // click within 24h -> first purchase within 24h, as user-keyed
    // min-aggregates + equi-joins (never a per-user event sort), with
    // exact microsecond-sum conversion delays.
    "q82_event_funnel" -> ((s, dir) =>
      Events.conversionFunnel(Tables.events(s, dir))),

    // Weekly cohort retention: first-event week x active-week offset.
    "q83_cohort_retention" -> ((s, dir) =>
      Events.cohortRetention(Tables.events(s, dir))),

    // Exact interpolated percentiles of document length per language —
    // the sort-based exact aggregate (percentile()); at 100 TB the
    // same query ships as approx_percentile (q09's sketch family),
    // trading the per-group sort for a mergeable KLL-style summary.
    "q84_length_percentiles" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("percentile(n_chars, 0.5D)").as("p50_chars"),
          expr("percentile(n_chars, 0.9D)").as("p90_chars"),
          expr("percentile(n_chars, 0.99D)").as("p99_chars"))),

    // Incremental view maintenance: a per-priority count/sum rollup is
    // materialized at table version 1, the table then takes an append
    // (v2) and a predicate delete (v3), and the rollup is rolled
    // FORWARD from the v1..v3 changelog alone — never re-scanning the
    // base table. Oracle = the direct aggregate over the final state,
    // so the hash check proves maintained == recomputed bit for bit
    // (exact-decimal merge arithmetic; see ViewMaintenance).
    "q85_ivm_rollup" -> ((s, dir) => {
      import graft.operators.ViewMaintenance
      val io = TableIO(s, tempDir("graft_ivm_"))
      val base = Tables.orders(s, dir).filter(col("o_custkey") <= 1000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.append(base.filter(col("o_orderpriority") =!= "1-URGENT"), "default.orders_ivm") // v1
      val keys = Seq("o_orderpriority")
      val measures = Seq(ViewMaintenance.Measure("o_totalprice", "total_price", 2))
      // summary pinned to v1 via time travel: io.read here would lazily
      // re-resolve to the post-delete snapshot at action time
      val v1 = ViewMaintenance.summarize(
        io.readVersion("default.orders_ivm", 1), keys, "n_orders", measures)
      io.append(base.filter(col("o_orderpriority") === "1-URGENT"), "default.orders_ivm") // v2
      io.deleteWhere("default.orders_ivm", col("o_totalprice") >= 200000.0)               // v3
      val delta = io.readChangelog("default.orders_ivm", fromVersion = 1)
      ViewMaintenance.applyDelta(v1, delta, keys, "n_orders", measures)
        .select(col("o_orderpriority"), col("n_orders"),
          col("total_price").cast("double").as("total_price"))
    }),

    // Referential-integrity audit over the star schema: orphaned FKs
    // (rows counted, but shuffled pre-aggregated) + PK uniqueness, one
    // (check, violations) row each. All six are 0 on the fixture — the
    // planted-corruption detection path is pinned in QualitySpec.
    "q86_integrity_audit" -> ((s, dir) =>
      Quality.referentialAudit(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))),

    // Customer-revenue deciles within market segment: pre-aggregated
    // join + segment-partitioned NTILE window (never a global
    // single-partition sort) + exact-decimal revenue stats.
    "q87_segment_deciles" -> ((s, dir) =>
      Aggregations.segmentDeciles(Tables.customer(s, dir), Tables.orders(s, dir))),

    // Interval-containment join without the nested-loop plan: power
    // users' sessions (the intervals) x ALL events (the points) as a
    // bucketized equi-join (Joins.intervalJoin; no-BNLJ plan-pinned in
    // OperatorsSpec) — the "who else was active during this session"
    // co-activity query.
    "q88_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sessions = Events.sessionize(ev.filter(col("user_id") % 20 === 0))
        .groupBy(col("user_id").as("s_user"), col("session_id"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      val points = ev.select(col("event_id").as("p_event"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
      graft.operators.Joins.intervalJoin(points, sessions, "p_ts", "s_start", "s_end")
        .groupBy(col("s_user"), col("session_id"),
          // all-integer output per the exactness recipe: epoch micros
          // (< 2^53) instead of a raw timestamp removes every
          // cross-engine timestamp-canonicalization variable
          unix_micros(col("s_start")).as("s_start_us"))
        .agg(count(lit(1)).as("n_overlap"),
          countDistinct(col("p_user")).as("n_users"))
    }),

    // Per-file bloom index through the table layer: orders written
    // key-scattered (every file spans the whole o_orderkey domain, so
    // min/max stats cannot prune a point lookup), then
    // CALL system.add_bloom_index commits a metadata-only snapshot
    // whose per-file blooms let the catalog scan skip to the ~1 file
    // per key (file-skip pinned in BloomIndexSpec; the oracle checks
    // the lookup's exactness — bloom false positives cost scans, never
    // rows).
    "q90_bloom_pointlookup" -> ((s, dir) => {
      val cname = "gbl"
      val io = catalogIO(s, cname, "graft_bloomq_")
      val t = "default.orders_bloom"
      io.overwrite(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .repartition(16),
        t)
      s.sql(s"CALL $cname.system.add_bloom_index('$t', 'o_orderkey')").collect()
      s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority " +
        s"FROM $cname.$t WHERE o_orderkey IN (7, 33, 129, 1024, 5000, 10000000)")
    }),

    // Streaming CDC-apply: the event stream upserts into a
    // latest-state-per-user table (key user_id, order ts+event_id),
    // each micro-batch a stats/bloom-scoped key replacement with the
    // exactly-once batch mark riding the commit. The harness fixture
    // drains as ONE availableNow batch, so the table equals the
    // per-user argmax over the whole stream — which is the oracle;
    // multi-batch replay/ordering semantics are pinned in
    // UpsertStreamSpec instead.
    "q91_stream_upsert" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_ups_"))
      withStreamShuffle(s) {
        graft.streaming.TableSink.upsertStream(
          eventsFileStream(s, dir), io, "default.user_state",
          tempDir("graft_ckpt_"), keyCols = Seq("user_id"),
          orderCols = Seq("ts", "event_id"), availableNow = true)
          .awaitTermination()
      }
      io.read("default.user_state")
    }),

    // Partition-health introspection: the `.partitions` metadata table
    // profiles the current snapshot per Hive partition from the
    // manifest + persisted stats — an O(manifest) metadata read (no
    // data scan; the row counts come from commit-time footer stats).
    // Oracle = the same per-partition counts computed from the data.
    "q92_partitions_meta" -> ((s, dir) => {
      val cname = "gpm"
      val io = catalogIO(s, cname, "graft_pmeta_")
      val t = "default.lineitem_pm"
      // overwrite, not append: catalogIO's warehouse persists for the
      // session, and bench runs each query several times — an append
      // would double the table (and the timings) per run
      io.overwrite(
        graft.pipeline.Ingestion.cleanLineitem(Tables.lineitem(s, dir))
          .drop("ship_ts", "l_tax").repartition(col("ship_year")),
        t, Seq("ship_year"))
      s.sql(s"SELECT `partition`, row_count FROM $cname.$t.partitions")
    }),

    // Last-touch attribution: every purchase attributes to the user's
    // LATEST click at or before it — the as-of join (q38's
    // union+window formulation, no join node, one shuffle) applied to
    // the marketing question it exists for; exact microsecond delay
    // sums, daily rollup.
    "q93_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("value").as("p_value"))
      // right side unique per (key, time): latest event_id wins
      val wDedup = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
      graft.operators.Joins.asOfJoin(
        purchases, clicks,
        leftKey = "p_user", rightKey = "user_id",
        leftTime = "p_ts", rightTime = "ts",
        rightPayload = Seq("click_id", "click_ts"))
        .groupBy(to_date(col("p_ts")).as("day"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("click_id").isNotNull, 1L).otherwise(0L)).as("n_attributed"),
          sum(when(col("click_id").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("click_ts")))).as("total_delay_us"),
          sum(when(col("click_id").isNotNull,
            col("p_value").cast(org.apache.spark.sql.types.DecimalType(30, 2))))
            .cast("double").as("attributed_value"))
    }),

    // Embedding-space decontamination: the semantic sibling of q41/q54
    // (n-gram decon catches verbatim leakage; cosine >= t catches
    // paraphrase-level eval contamination). Exact through the
    // cell-bucketed cross-set triangle-inequality plan — no corpus
    // broadcast, no nested loop. Benchmark = portable id-bucket >= 8.
    "q94_embedding_decontaminate" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val bucket = graft.sampling.Sampling.portableBucket("vec_id", 10)
      Similarity.embeddingDecontaminate(
        e.filter(bucket < 8), e.filter(bucket >= 8), threshold = 0.4)
        .select(col("vec_id"))
    }),

    // RANGE-framed sliding window over EVENT TIME: per event, the same
    // user's activity in the preceding hour (count + exact value sum)
    // — the burst/rate feature a rows-frame (q35) cannot express when
    // events are irregularly spaced. Ordering by integer micros makes
    // the frame exact and tie-safe in both engines (peers at the same
    // timestamp are all in-frame regardless of sort order).
    "q95_rolling_rate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          unix_micros(col("ts")).as("us"))
        .select(
          col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 2)))
            .over(w).cast("double").as("value_1h"))
    }),

    // Column profiling from METADATA: the `.column_stats` table rolls
    // the manifest's per-file stats into table-level min/max (numeric,
    // as double), null and row counts — O(manifest), zero data reads.
    // The oracle recomputes the same profile from the data itself, so
    // the hash check proves the commit-time stats pipeline (footer
    // read -> manifest encode -> decode -> rollup) end to end.
    "q96_column_stats_meta" -> ((s, dir) => {
      val cname = "gcs2"
      val io = catalogIO(s, cname, "graft_cstats_")
      val t = "default.lineitem_cs"
      // overwrite for per-run idempotence (see q92's note)
      io.overwrite(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_returnflag"))
          .repartition(8),
        t)
      s.sql(s"SELECT col_name, value_min, value_max, null_count, row_count " +
        s"FROM $cname.$t.column_stats")
    }),

    // SCD TYPE 2 dimension maintenance: an update batch against the
    // customer dimension closes the affected keys' current rows
    // (valid_to = effective date, is_current = false) and opens new
    // versions, leaving history queryable by date range — the
    // warehouse pattern the reference's overwrite-only dimensions
    // (DimensionJob) cannot express. Pure key-equi-joins: changed
    // rows via inner join, untouched via left_anti, one union.
    "q97_scd2_dimension" -> ((s, dir) => {
      val eff = lit("1995-06-01").cast("date")
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"),
          lit("1990-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(true).as("is_current"))
      // the update batch: bucket-3 customers get a balance adjustment
      val bucket = graft.sampling.Sampling.portableBucket("c_custkey", 10)
      val updates = Tables.customer(s, dir).filter(bucket === 3)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + lit(100.0d)).as("c_acctbal"), col("c_mktsegment"))
      val updateKeys = updates.select("c_custkey")
      val closed = dim.join(updateKeys, Seq("c_custkey"), "left_semi")
        .withColumn("valid_to", eff).withColumn("is_current", lit(false))
      val opened = updates
        .withColumn("valid_from", eff)
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val untouched = dim.join(updateKeys, Seq("c_custkey"), "left_anti")
      // deterministic output: union row order is scheduling-dependent
      untouched.unionByName(closed).unionByName(opened)
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // Multi-granularity aggregate in ONE pass: GROUPING SETS ((flag,
    // status), (flag), ()) with grouping indicators — one scan + one
    // expanded aggregate vs three separate scans-and-unions.
    "q89_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("rev", col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n_rows"),
          graft.functions.ExactAgg.dsum(col("rev"), 4).as("revenue"))),

    // Duplicated-substring spans (Lee et al. span-level dedup): maximal
    // regions of each document covered by word 5-grams that occur >= 2
    // times corpus-wide. No pair enumeration anywhere — boilerplate
    // costs O(occurrences), not O(pairs). Portable md5 gram hashes so
    // the duplicated-set decision is engine-identical by construction.
    "q98_dup_spans" -> ((s, dir) =>
      graft.text.SpanDedup.duplicatedSpans(Tables.documents(s, dir))),

    // The span-CUT corpus built on q98's spans: every duplicated span
    // removed, tokens re-joined, emptied documents dropped.
    "q99_span_dedup_corpus" -> ((s, dir) =>
      graft.text.SpanDedup.spanDedupCorpus(Tables.documents(s, dir))),

    // Branch lifecycle as an oracle row: main holds the URGENT orders;
    // a branch takes TWO experimental appends (HIGH, then MEDIUM) that
    // main must never see; fast-forward integrates them metadata-only.
    // Result = three labeled reads — branch head pre-integration, main
    // before (still URGENT-only), main after (all three priorities) —
    // the isolation/integration contract in one relational answer.
    "q101_branch_lifecycle" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_br_"))
      val t = "default.orders_br"
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.append(ords.filter(col("o_orderpriority") === "1-URGENT"), t)
      io.createBranch(t, "exp")
      io.append(ords.filter(col("o_orderpriority") === "2-HIGH"), t, ref = Ref.Branch("exp"))
      val mainBefore = io.read(t).withColumn("stage", lit("main_before"))
      io.append(ords.filter(col("o_orderpriority") === "3-MEDIUM"), t, ref = Ref.Branch("exp"))
      val branchRows = io.read(t, Ref.Branch("exp")).withColumn("stage", lit("branch_head"))
      io.fastForward(t, "exp")
      val mainAfter = io.read(t).withColumn("stage", lit("main_after"))
      // deterministic output: union row order is scheduling-dependent
      mainBefore.unionAll(branchRows).unionAll(mainAfter)
        .orderBy(col("stage"), col("o_orderkey"))
    }),

    // STREAMING distinct-count maintenance: the HLL register table
    // max-merged per micro-batch (TableSink.sketchMergeStream) over
    // the events file stream — replays are no-ops because max-merge is
    // idempotent (the one sink where at-least-once IS exactly-once,
    // no batch mark needed). The estimate read off the maintained
    // state hash-matches the oracle's single-pass recompute over all
    // events, by mergeability.
    "q105_stream_hll" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_shll_"))
      val t = "default.hll_stream_regs"
      withStreamShuffle(s) {
        graft.streaming.TableSink.sketchMergeStream(
          eventsFileStream(s, dir), io, t, tempDir("graft_ckpt_"),
          batch => graft.functions.HyperLogLog.registers(
            batch, "CAST(user_id AS STRING)", Seq("event_type")),
          Seq("event_type", "reg"), availableNow = true)
          .awaitTermination()
      }
      graft.functions.HyperLogLog.estimateFromRegisters(io.read(t), Seq("event_type"))
    }),

    // Streaming ingest ONTO A BRANCH (the WAP-branch pattern): main
    // seeds with the even-id events; the odd-id events stream onto the
    // 'ingest' branch (exactly-once via branch-manifest marks), main
    // stays seed-only until fastForward integrates the run metadata-
    // only. Result: the main_before rollup (even ids) unioned with the
    // main_after rollup (all events, each exactly once).
    "q107_stream_branch_ingest" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_sbr_"))
      val t = "default.events_br"
      def rollup(df: DataFrame, stage: String) =
        df.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            graft.functions.ExactAgg.dsum(col("value"), 2).as("total_value"))
          .withColumn("stage", lit(stage))
      io.append(Tables.events(s, dir).filter(col("event_id") % 2 === 0), t)
      io.createBranch(t, "ingest")
      withStreamShuffle(s) {
        graft.streaming.TableSink.appendStream(
          eventsFileStream(s, dir).filter(col("event_id") % 2 === 1),
          io, t, tempDir("graft_ckpt_"), availableNow = true, ref = Ref.Branch("ingest"))
          .awaitTermination()
      }
      val before = rollup(io.read(t), "main_before")
      io.fastForward(t, "ingest")
      // deterministic output: union row order is scheduling-dependent
      before.unionByName(rollup(io.read(t), "main_after"))
        .orderBy(col("stage"), col("event_type"))
    }),

    // The unified .refs view (Iceberg refs): every named pointer into
    // the snapshot space — a retention tag and two branches at
    // different lifecycle stages — as one introspection row set, read
    // through SQL. The row contents are fully determined by the
    // scripted op sequence, so a literal oracle pins them.
    "q109_refs_meta" -> ((s, dir) => {
      val cname = "gref"
      val io = catalogIO(s, cname, "graft_refs_")
      val t = "default.orders_refs"
      io.catalog.dropTable(t)
      io.append(Tables.orders(s, dir).filter(col("o_custkey") <= 100)
        .select(col("o_orderkey"), col("o_totalprice")), t) // v1
      io.catalog.tagSnapshot(t, "audited", 1)
      io.createBranch(t, "exp") // branch v1 at fork v1
      io.append(Tables.orders(s, dir)
        .filter(col("o_custkey") > 100 && col("o_custkey") <= 120)
        .select(col("o_orderkey"), col("o_totalprice")), t, ref = Ref.Branch("exp")) // branch v2
      io.createBranch(t, "idle") // branch v1
      s.sql(s"SELECT ref_name, ref_type, version FROM $cname.$t.refs")
    }),

    // Exactly-k-per-stratum deterministic sample (bottom-k by portable
    // 52-bit hash): the fixed-SIZE member of the sampling family —
    // q39/q67 fix rates, q103 fixes a token budget, this fixes a row
    // count ("exactly 20 eval docs per language"). Bounded graft_topk
    // aggregate map-side, broadcast membership join back — the corpus
    // never shuffles (pinned in PlanQualitySpec).
    "q110_exact_k_sample" -> ((s, dir) =>
      graft.sampling.Sampling.exactKPerStratum(
        Tables.documents(s, dir).select("doc_id", "lang", "source"),
        strataCol = "lang", k = 20)
        .select("doc_id", "lang", "source", "sample_rank")),

    // HIDDEN partition transform, time flavor: events laid out by
    // days(ts) — the layout column is derived at write, never visible,
    // and the catalog scan prunes day-dirs from the RANGE predicate on
    // the SOURCE column (file-skip pinned in HiddenPartitionSpec; the
    // oracle checks the pruned scan loses no boundary rows).
    "q111_hidden_days_prune" -> ((s, dir) => {
      val cname = "ghdp"
      val io = catalogIO(s, cname, "graft_hidp_")
      val t = "default.events_bydays"
      if (io.catalog.currentVersion(t).isEmpty) io.setPartitionSpec(t, Seq("days(ts)"))
      io.overwrite(
        Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")),
        t)
      s.sql(s"""SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        |FROM $cname.$t
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type""".stripMargin)
    }),

    // HIDDEN partition transform, hash flavor: orders laid out by
    // bucket(16, o_custkey). Point/IN predicates on the source column
    // prune to the matching bucket dirs — the case range stats can
    // NEVER serve (every file spans the whole key domain).
    "q112_hidden_bucket_prune" -> ((s, dir) => {
      val cname = "ghbp"
      val io = catalogIO(s, cname, "graft_hibp_")
      val t = "default.orders_bybucket"
      if (io.catalog.currentVersion(t).isEmpty)
        io.setPartitionSpec(t, Seq("bucket(16, o_custkey)"))
      io.overwrite(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority")),
        t)
      s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority " +
        s"FROM $cname.$t WHERE o_custkey IN (7, 33, 129, 466)")
    }),

    // Storage-partitioned join: customer and a per-customer orders
    // rollup live as bucket(8, custkey) hidden layouts; the catalog
    // scan reports KeyGroupedPartitioning (resolved through the
    // catalog's V2 bucket function) and the SQL join plans with ZERO
    // exchange — asserted in-query on the planned string (driver-side
    // planning only, no extra pass). Broadcast is disabled for the
    // plan so the assert pins the storage-partitioned shape, not a
    // broadcast that hides the question. At 100 TB this is Iceberg's
    // SPJ: the fact-fact join that never shuffles.
    "q126_spj_join" -> ((s, dir) => {
      val cname = "gspj"
      val io = catalogIO(s, cname, "graft_spjq_")
      val tc = "default.cust_b8"
      val to = "default.ords_b8"
      if (io.catalog.currentVersion(tc).isEmpty) io.setPartitionSpec(tc, Seq("bucket(8, cust)"))
      if (io.catalog.currentVersion(to).isEmpty) io.setPartitionSpec(to, Seq("bucket(8, cust)"))
      io.overwrite(Tables.customer(s, dir).select(
        col("c_custkey").cast("bigint").as("cust"),
        col("c_nationkey").cast("int").as("nk"),
        col("c_mktsegment").as("segment")), tc)
      io.overwrite(Tables.orders(s, dir)
        .groupBy(col("o_custkey").cast("bigint").as("cust"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.ExactAgg.dsum(col("o_totalprice"), 2).as("total")), to)
      // set-and-leave (SessionFactory's defaults): flipping them back
      // before the driver executes the returned frame would have AQE
      // finalize stages under different confs than the asserted plan
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val bKey = "spark.sql.autoBroadcastJoinThreshold"
      val bPrev = s.conf.getOption(bKey)
      s.conf.set(bKey, "-1")
      try {
        val df = s.sql(
          s"""SELECT c.cust, c.nk, c.segment, o.n_orders, o.total
             |FROM $cname.$tc c JOIN $cname.$to o ON c.cust = o.cust""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"expected a zero-exchange storage-partitioned join, got:\n$plan")
        df
      } finally bPrev match {
        case Some(v) => s.conf.set(bKey, v)
        case None => s.conf.unset(bKey)
      }
    }),

    // Storage-partitioned AGGREGATION: the bucket(8, skey) layout's
    // KeyGroupedPartitioning satisfies GROUP BY skey's clustered
    // distribution, so the per-supplier rollup of a bucketed lineitem
    // fact plans partial+final HashAggregate directly on the scan —
    // ZERO exchange (asserted in-query, planning only). With q126 this
    // makes the two dominant query shapes over a bucketed 100 TB fact
    // (join on key, aggregate by key) shuffle-free.
    "q129_spj_agg" -> ((s, dir) => {
      val cname = "gsa"
      val io = catalogIO(s, cname, "graft_spjagg_")
      val t = "default.li_b8"
      if (io.catalog.currentVersion(t).isEmpty) io.setPartitionSpec(t, Seq("bucket(8, skey)"))
      io.overwrite(Tables.lineitem(s, dir).select(
        col("l_suppkey").cast("bigint").as("skey"),
        col("l_quantity").cast("bigint").as("qty"),
        col("l_extendedprice").cast("decimal(12,2)").as("price")), t)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val df = s.sql(
        s"""SELECT skey, count(*) AS n, sum(qty) AS sum_qty,
           |  CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS revenue
           |FROM $cname.$t GROUP BY skey""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"expected an exchange-free storage-partitioned aggregation, got:\n$plan")
      df
    }),

    // Embedding-space dedup'd corpus (SemDeDup): drop every vector
    // with a smaller-id neighbor at cosine >= 0.4, keep the rest —
    // the representative-selection corpus op composing the q27 pair
    // join (cell-bucketed, triangle-inequality-pruned) with one
    // LeftAnti. Output is all-integer for the exactness recipe.
    "q113_semdedup_corpus" -> ((s, dir) =>
      Similarity.semDedupCorpus(Tables.embeddings(s, dir), threshold = 0.4)
        .select(col("vec_id"), col("label"))),

    // Gopher quality-rule battery: the canonical hard PASS/FAIL web-text
    // rules as native regexp counters + integer cross-multiplied ratio
    // rules (no Double division, no HOFs) — bit-portable to the DuckDB
    // replay. Median fixture doc is 56 words, so the canonical 50-word
    // floor genuinely splits the corpus.
    "q116_gopher_rules" -> ((s, dir) =>
      graft.text.TextAnalysis.gopherRules(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_words"), col("word_chars"), col("n_stop"),
          col("r_word_count"), col("r_mean_word_len"), col("r_symbol_ratio"),
          col("r_alpha_words"), col("r_stopwords"), col("keep"))),

    // DSIR-style data selection (r17 — Xie et al. 2023, the
    // importance-resampling pass that picks crawl docs LOOKING like a
    // curated target corpus): hashed unigram+bigram bucket models
    // (10k portable-md5 buckets) for target (doc_id%10<3) vs source,
    // per-doc log importance weight = exact BIGINT dot product of
    // feature counts x portable-ln bucket log-ratios, deterministic
    // top-quarter selection. The bucket model is <= 10k rows ->
    // broadcast; scoring is map-side — nothing is corpus x model.
    "q146_dsir_selection" -> ((s, dir) =>
      graft.text.LanguageModel.dsirSelect(Tables.documents(s, dir))
        .select(col("doc_id"), col("weight_nano"), col("rk"))),

    // CCNet-style LM perplexity filter (r17): per-language add-one
    // trigram model trained on the doc_id%10<3 curated slice, the rest
    // scored by mean negative log-likelihood and bucketed into
    // per-language terciles (1 = head/keep, 3 = tail/drop) — the
    // third quality axis after heuristics (q15) and Gopher rules
    // (q116), and the one CCNet/LLaMA actually rank CommonCrawl with.
    // Counts are exact longs; ln is the PORTABLE IEEE-exact-ops form
    // quantized to nano-nats per trigram before the order-free BIGINT
    // sum, so the DuckDB replay hash-matches bit for bit (builtin ln
    // differs in the last ulp across engines and would not).
    "q140_lm_perplexity" -> ((s, dir) =>
      graft.text.LanguageModel.perplexityScores(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("n_trigrams"),
          col("logprob_nano"), col("avg_nll"), col("ppl_bucket"))),

    // Perplexity buckets from SAMPLE cut points (r18 — q140's
    // crawl-scale form as an oracle row): the same scores, but the
    // per-language tercile cuts come EXACTLY from a deterministic
    // md5-admitted 1/4 sample and buckets assign by broadcast-join
    // comparison — the only sorts are per-language windows over the
    // sample, never the corpus-wide NTILE. Exactly replayable: the
    // oracle recomputes the same sample and the same cut values.
    "q150_ppl_sample_buckets" -> ((s, dir) => {
      val scores = graft.text.LanguageModel.perplexityScores(Tables.documents(s, dir))
      graft.text.LanguageModel.bucketsBySampleCutpoints(scores)
        .select(col("doc_id"), col("lang"), col("avg_nll"), col("ppl_bucket"))
    }),

    // DSIR selection by THRESHOLD (r18 — q146's crawl-scale form as an
    // oracle row): the same exact BIGINT weights, but the keep cut is
    // the top-quartile VALUE of a deterministic 1/4 sample and
    // selection is a map-side >= against the broadcast one-row
    // threshold — no global rank of every source document. Ties at
    // the threshold are kept; the oracle replays sample + cut exactly.
    "q151_dsir_threshold" -> ((s, dir) =>
      graft.text.LanguageModel.dsirSelectByThreshold(Tables.documents(s, dir))
        .select(col("doc_id"), col("weight_nano"))),

    // REAL image decode (javax.imageio): per-doc deterministic rasters
    // are PNG-encoded, decoded back, and pixel-summed on executors;
    // the oracle recomputes the sums analytically — PNG is lossless,
    // so any codec/kernel defect breaks the hash. n_bytes is excluded
    // (PNG compression size is encoder lore, not semantics).
    // REAL audio decode (javax.sound.sampled): per-doc deterministic
    // 16-bit mono PCM waveforms are WAV-encoded, header-parsed and
    // sample-decoded back on executors; the oracle recomputes length
    // and sample sums analytically — PCM is lossless, so any RIFF or
    // sample-assembly defect breaks the hash. sample_rate comes from
    // the decoded HEADER, pinning the parse, not the synth.
    "q128_audio_decode" -> ((s, dir) =>
      Multimodal.decodeAudioStats(Multimodal.withAudioBlob(Tables.documents(s, dir)))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sample_sum"), col("abs_sum"))),

    "q114_image_decode" -> ((s, dir) =>
      Multimodal.decodeImageStats(Multimodal.withImageBlob(Tables.documents(s, dir)))
        .select(col("doc_id"), col("width"), col("height"), col("pixel_sum"))),

    // REAL resize chain: decode -> integer nearest-neighbor resample
    // -> re-encode -> decode again; the resized pixel sums follow the
    // same analytic mapping, so the oracle checks the whole chain.
    "q115_image_resize" -> ((s, dir) =>
      Multimodal.decodeImageStats(
        Multimodal.resizeImagesNN(
          Multimodal.withImageBlob(Tables.documents(s, dir)), 16, 16))
        .select(col("doc_id"), col("width"), col("height"), col("pixel_sum"))),

    // REAL video decode (r16): AVI/RIFF container encode executor-side
    // (uncompressed bottom-up BGR24 'DIB ' frames — the one video
    // stream format needing no codec), then a REAL chunk-tree parse +
    // frame demux + raster decode. Raw frames are lossless, so the
    // per-video pixel sums equal the analytic formula exactly — the
    // oracle pins container fidelity end to end, closing the last
    // byte-level stub in the multimodal family.
    "q134_video_decode" -> ((s, dir) =>
      Multimodal.decodeVideoStats(Multimodal.withVideoBlob(Tables.documents(s, dir)))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("pixel_sum"))),

    // REAL frame sampling (the demux claim): the container walk indexes
    // every frame chunk but DECODES only every 2nd — one row per
    // sampled frame with its analytic pixel sum. At 100 TB this is the
    // cost shape that matters: sampling k of n frames pays O(k) raster
    // decodes plus a metadata-sized chunk walk, never a full decode.
    "q135_video_frame_sample" -> ((s, dir) =>
      Multimodal.sampleVideoFrames(
        Multimodal.withVideoBlob(Tables.documents(s, dir)), every = 2)
        .select(col("doc_id"), col("frame_idx"), col("frame_sum"))),

    // REAL COMPRESSED video decode (r17): Motion-JPEG AVI — '00dc'
    // chunks each a complete JPEG, decoded by the JDK's own codec
    // (javax.imageio), the one compressed stream format that needs no
    // external library. JPEG is lossy, so dims/frame counts are exact
    // (container facts) while the decoded pixel sum is bounded against
    // the analytic raster: decode_ok cross-multiplies the signed error
    // against the sample count (mean |err| per channel sample <= 4;
    // VideoSpec pins the per-pixel max). A broken decode — swapped
    // channels, row-order bugs, mis-demuxed frames — blows the bound.
    "q139_mjpeg_decode" -> ((s, dir) =>
      Multimodal.decodeMjpegStats(Multimodal.withMjpegBlob(Tables.documents(s, dir)))
        .withColumn("expected_sum", expr(
          """aggregate(sequence(0, n_frames - 1), CAST(0 AS BIGINT), (af, f) ->
            |  af + aggregate(sequence(0, width - 1), CAST(0 AS BIGINT), (ax, x) ->
            |    ax + aggregate(sequence(0, height - 1), CAST(0 AS BIGINT), (ay, y) ->
            |      ay + (doc_id * 31 + f * 59) % 128
            |         + (doc_id * 31 + f * 59 + 97) % 128
            |         + (doc_id * 31 + f * 59 + 194) % 128
            |         + 3 * (x * 2 + y * 3))))""".stripMargin))
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          (abs(col("pixel_sum") - col("expected_sum")) <=
            col("width").cast("long") * col("height") * lit(3) * col("n_frames") * lit(4))
            .as("decode_ok"))),

    // Branch maintenance in the q107 lifecycle: the ingest branch's
    // per-batch small files compact into one rewritten file BETWEEN
    // integration cycles (fastForward's rebase record resets the fork
    // point, so the post-compaction integration still passes).
    // Content-preservation is the oracle claim: seed + both batches,
    // each row exactly once, through compact + a second fast-forward.
    "q108_branch_compact" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_brc_"))
      val t = "default.orders_brc"
      val ords = Tables.orders(s, dir).filter(col("o_custkey") <= 300)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      io.append(ords.filter(col("o_orderpriority") === "1-URGENT"), t)
      io.createBranch(t, "maint")
      io.append(ords.filter(col("o_orderpriority") === "2-HIGH"), t, ref = Ref.Branch("maint"))
      io.fastForward(t, "maint") // first cycle integrates HIGH
      io.append(ords.filter(col("o_orderpriority") === "3-MEDIUM"), t, ref = Ref.Branch("maint"))
      io.compact(t, targetFiles = 1, ref = Ref.Branch("maint"))
      io.fastForward(t, "maint") // second cycle: compacted files integrate
      io.read(t)
    }),

    // STREAMING frequency maintenance: the additive counterpart of
    // q105 — Count-Min cells SUM-merged per micro-batch, with the
    // batch-id mark riding the overwrite commit (addition is not
    // idempotent, so this sink NEEDS the mark where q105's max-merge
    // does not). State probed at the exact top-20 heavy users; the
    // maintained cells equal the one-pass sketch by sum associativity.
    "q106_stream_cms" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_scms_"))
      val t = "default.cms_stream_cells"
      withStreamShuffle(s) {
        graft.streaming.TableSink.additiveSketchMergeStream(
          eventsFileStream(s, dir), io, t, tempDir("graft_ckpt_"),
          batch => graft.functions.CountMin.sketch(batch, "CAST(user_id AS STRING)"),
          Seq("row", "bucket"), "cnt", availableNow = true)
          .awaitTermination()
      }
      val top = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id").cast("string").as("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("user_id")).limit(20)
      graft.functions.CountMin.estimate(io.read(t), top, "user_id")
        .join(top, Seq("user_id"))
    }),

    // Count-Min heavy hitters: the frequency sketch (4 x 1024, all
    // integer arithmetic — zero cross-engine parity caveats) probed at
    // the exact top-20 tokens. cms_estimate >= exact_cnt always (CM
    // error is one-sided); the sketch shuffle carries <= 4096 cells
    // per partition whatever the corpus size.
    "q104_cms_heavyhitters" -> ((s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(explode(expr(TextAnalysis.wordTokensSql("text"))).as("token"))
      val top = tokens.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("token")).limit(20)
      val sk = graft.functions.CountMin.sketch(tokens, "token")
      graft.functions.CountMin.estimate(sk, top, "token")
        .join(top, Seq("token"))
    }),

    // Token-budget data mixing: each source contributes documents in
    // deterministic hash order until its 20k-token budget fills —
    // whole documents, boundary doc overshoots. The set is exactly
    // reproducible cross-engine (no RNG anywhere).
    "q103_token_budget_mix" -> ((s, dir) =>
      graft.sampling.Sampling.tokenBudgetSample(
        Tables.documents(s, dir), "source", budget = 20000L)),

    // The sketch as PERSISTED STATE: batch 1's register frame lands in
    // a table, batch 2's registers max-merge into it, and the estimate
    // read off the persisted state is — by HLL mergeability — the
    // EXACT same value a full recompute gives (the oracle recomputes
    // over all of lineitem and hash-matches). This is incremental
    // distinct-counting at 100 TB: each new batch costs its own scan
    // plus a <=(groups x 1024)-row merge, never a re-scan of history.
    "q102_hll_incremental" -> ((s, dir) => {
      val io = TableIO(s, tempDir("graft_hlli_"))
      val t = "default.hll_regs"
      val hll = graft.functions.HyperLogLog
      val li = Tables.lineitem(s, dir)
      val cut = lit("1995-01-01").cast("date")
      io.overwrite(hll.registers(
        li.filter(col("l_shipdate") < cut), "CAST(l_orderkey AS STRING)", Seq("l_returnflag")), t)
      val merged = io.read(t)
        .unionByName(hll.registers(
          li.filter(col("l_shipdate") >= cut), "CAST(l_orderkey AS STRING)", Seq("l_returnflag")))
        .groupBy(col("l_returnflag"), col("reg"))
        .agg(max(col("m")).as("m"))
      io.overwrite(merged, t)
      hll.estimateFromRegisters(io.read(t), Seq("l_returnflag"))
    }),

    // Portable HyperLogLog (1024 registers) next to the exact count:
    // the shuffle carries <= 1024 register partials per group instead
    // of every distinct value — the 100 TB replacement for
    // count(DISTINCT). Every step integer-exact or fixed-shape double,
    // so the DuckDB replay hash-matches the estimate bit for bit.
    "q100_hll_distinct" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val est = graft.functions.HyperLogLog.estimate(
        li, "CAST(l_orderkey AS STRING)", Seq("l_returnflag"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      est.join(exact, Seq("l_returnflag"))
    })
  )

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run a streaming drain with the shuffle-partition count sized to
    * STATE volume instead of the session's CPU-sized default. The
    * stateful operators create (partitions x stores) state-store
    * instances, and every micro-batch pays per-instance commit I/O
    * (delta file + rename + sync) — at these fixtures' state sizes
    * (<=100k keys) 32 partitions are pure fixed overhead, and the
    * per-batch sync fan-out is what an fsync-latency burst on a shared
    * box amplifies (measured: an empty watermark-eviction batch cost
    * 3.6 s at 32 partitions under sync contention). A 100 TB
    * deployment raises the count with state size — the knob is the
    * conf, which streaming bakes into the checkpoint at first start.
    */
  private def withStreamShuffle[T](s: SparkSession, n: Int = 8)(body: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(k)
    s.conf.set(k, n.toString)
    try body finally s.conf.set(k, prev)
  }

  /** Register (once) a session-lifetime graft catalog named `cname`
    * over a fresh temp warehouse and return a TableIO on it. ONE
    * catalog name per session: Spark caches catalog instances by name
    * forever, and the cached instance keeps its FIRST warehouse
    * regardless of later conf edits — so the warehouse conf is pinned
    * on first use and every caller runs idempotent setup (overwrite /
    * drop-and-recreate) on its own tables.
    */
  private def catalogIO(s: SparkSession, cname: String, prefix: String): TableIO = {
    val whKey = s"spark.sql.catalog.$cname.warehouse"
    if (!s.conf.getOption(whKey).isDefined) {
      s.conf.set(s"spark.sql.catalog.$cname", classOf[graft.io.GraftCatalog].getName)
      s.conf.set(whKey, tempDir(prefix))
    }
    TableIO(s, s.conf.get(whKey))
  }

  /** The events table as a file STREAM with `ts` normalized to
    * TimestampType — shared source setup of the streaming rows (q48
    * ingest, q61 windows). Mirrors Tables.events' type-drift branch:
    * a long scan is the legacy nanos fixture, an NTZ scan is the
    * current micros fixture (cast is instant-preserving under the UTC
    * session). The file stream source wants a DIRECTORY: a
    * Spark-written table IS one (part files inside events.parquet/);
    * the harness testdata is a single FILE, so stream its parent
    * glob-filtered to the one table.
    */
  private def eventsFileStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evPath = s"$dir/events.parquet"
    val schema = Tables.read(s, dir, "events").schema
    val raw =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(evPath)))
        s.readStream.schema(schema).parquet(evPath)
      else
        s.readStream.schema(schema).option("pathGlobFilter", "events.parquet").parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** DuckDB-equivalent SQL per query (same column names/types). */
  def oracleSql: Map[String, String] = OracleQueries.all
}
