package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Aggregations, Fact, Ingestion}
import graft.tables.Tables

/** Physical-plan assertions: the properties that make these operators
  * scale are pinned here so a refactor can't silently regress them
  * (SURVEY.md §4 — pushdown/pruning/broadcast/top-k are Catalyst's
  * job, but only if our plan shapes let it do it).
  */
class PlanQualitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("cleaning filters push down into the parquet scan") {
    val p = plan(Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir)))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("IsNotNull"), "null-drop should reach the reader")
    assert(p.contains("GreaterThan"), "positivity filters should reach the reader")
  }

  test("narrow projections prune the parquet read schema") {
    val df = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:"), p)
    assert(!p.contains("l_comment"), "unused columns must not be read")
  }

  test("fact build broadcasts every dimension join") {
    val fact = Fact.build(
      Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir)),
      Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir)
    )
    val p = plan(fact)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins (cust/supp/nation x2), got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin") || broadcasts >= 4, "dims must not shuffle the fact side")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val fact = Fact.build(
      Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir)),
      Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir)
    )
    val p = plan(Aggregations.topPairs(fact))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not materialize a full sort:\n$p")
  }

  test("per-group top-k is a bounded aggregate, not a low-cardinality window sort") {
    val df = Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir))
      .groupBy(col("l_returnflag"))
      .agg(expr("graft_topk(revenue, l_orderkey, CAST(l_linenumber AS INT), 3)").as("top"))
    val p = plan(df)
    assert(p.contains("graft_topk"), p)
    // partial (map-side) aggregation must exist so each scan partition
    // reduces to <=k rows per group before the exchange
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("Window"), s"top-k must not plan a window sort:\n$p")
    // exactly one exchange (the group-key one); no full-data sort
    assert("Exchange".r.findAllIn(p).length <= 2, p)
  }

  test("exact-k sample (q110): bounded aggregate + broadcast membership join, no window sort") {
    val df = graft.sampling.Sampling.exactKPerStratum(
      Tables.documents(spark, sfDir).select("doc_id", "lang", "source"), "lang", 20)
    val p = plan(df)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), s"fixed-size sample must not plan a per-stratum window sort:\n$p")
    // the strata x k keep set broadcasts; the corpus side never exchanges
    assert(p.contains("BroadcastHashJoin"), s"membership must rejoin as a broadcast:\n$p")
  }

  test("vocab top-k aggregates on token alone (map-side combine) and takes ordered top-k") {
    val p = plan(graft.text.TextAnalysis.topTokens(Tables.documents(spark, sfDir), k = 10))
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-k must not materialize a full sort:\n$p")
    assert(!p.contains("doc_id"), s"aggregate key must not include doc_id (full-token-stream shuffle):\n$p")
    // the q30 tokenizer hoist: one regex tokenize, not one per use of
    // the `tokens` alias (e.g. CollapseProject inlining it back into
    // the Generate would re-duplicate it)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("split\\(".r.findAllIn(finalPlan).length == 1, s"q30 plan must tokenize exactly once:\n$p")
  }

  test("ANN ranking is a bounded aggregate, not a per-query window sort") {
    val df = graft.similarity.Similarity.bruteForceTopK(
      Tables.embeddings(spark, sfDir), nQueries = 4, k = 3)
    val p = plan(df)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), s"ANN rank must not shuffle all candidates into nQueries partitions:\n$p")
  }

  test("as-of join (q38) plans windows over a union — no join node, one shuffle per window") {
    val df = SparkEntry.queries("q38_asof_join")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"as-of must not produce a join node:\n$p")
    // exactly two shuffles: the right-side dedup window on
    // (custkey, orderdate) and the as-of window on the key — the union
    // itself adds none (ShuffleQueryStage counts the AQE-final plan
    // only; the raw Exchange string also appears in the echoed
    // initial plan)
    assert("ShuffleQueryStage".r.findAllIn(p).length == 2,
      s"expected dedup + as-of shuffles only:\n$p")
  }

  test("stratified sample (q39) is a scalar scan predicate — no shuffle, no join, one scan") {
    val df = SparkEntry.queries("q39_stratified_sample")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"sampling must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"sampling must read the corpus once:\n$p")
  }

  test("decontamination (q41) is a gram-keyed semi-join — no cartesian, no nested loop") {
    val p = plan(SparkEntry.queries("q41_decontaminate")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"decontamination must not go all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"gram join must stay an equi-join:\n$p")
  }

  test("exact jaccard join (q79) never goes all-pairs: every join is an equi-join") {
    // Pin the PRE-checkpoint candidate pipeline: jaccardJoin's returned
    // frame sits on eagerly checkpointed RDDs, so its executedPlan
    // shows only the final verify joins — asserting on it would let a
    // candidate-stage regression to a cross join pass unseen.
    val (pairs, grams) = graft.dedup.SetSimilarity.preVerifiedPairs(
      Tables.documents(spark, sfDir), 60, "text", "doc_id", 3)
    try {
      val p = plan(pairs)
      assert(p.contains("row_number"), s"expected the prefix rank window in the candidate plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"prefix filtering must not plan a cross join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"prefix/verify joins must stay equi-joins:\n$p")
    } finally grams.unpersist()
  }

  test("repetition stats (q42) is one shuffle-free projection over the scan") {
    val p = plan(SparkEntry.queries("q42_repetition_stats")(spark, sfDir))
    assert(!p.contains("Exchange"), s"repetition signals must not shuffle:\n$p")
    assert(!p.contains("Join"), s"repetition signals must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"one corpus scan only:\n$p")
  }

  test("gopher rules (q116) is one codegen'd projection — no fallback, no shuffle, one scan") {
    val df = SparkEntry.queries("q116_gopher_rules")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"rule battery must not shuffle:\n$p")
    assert(!p.contains("Join"), s"rule battery must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"one corpus scan only:\n$p")
    // the `*(n)` prefix IS the whole-stage-codegen marker in this
    // rendering; every Project in the pipeline must carry it
    assert("(?m)^\\s*\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined &&
      !"(?m)^\\s*Project".r.findFirstIn(p).isDefined,
      s"regexp counters must stay codegen'd:\n$p")
  }

  test("unpivot (q117) plans an Expand over ONE aggregate — never a union of input replays") {
    val p = plan(SparkEntry.queries("q117_unpivot_metrics")(spark, sfDir))
    assert(p.contains("Expand"), s"native unpivot should lower to Expand:\n$p")
    val fin = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin).length == 1, s"one input scan only:\n$p")
    assert(!p.contains("Union"), s"melt must not replay the input per metric:\n$p")
  }

  test("sequence packing (q43) shuffles once on shard — no join, one scan") {
    val p = plan(SparkEntry.queries("q43_sequence_pack")(spark, sfDir))
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert("ShuffleQueryStage".r.findAllIn(p).length == 1,
      s"exactly the per-shard window shuffle:\n$p")
    // AQE renderings echo the pre-adaptive plan after "== Initial Plan ==";
    // count scans in the executed (final) section only
    val fin = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin).length == 1, s"one corpus scan only:\n$p")
  }

  test("chunking (q44) is a single generator in the scan pipeline — no shuffle") {
    val p = plan(SparkEntry.queries("q44_chunking")(spark, sfDir))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    assert("Generate".r.findAllIn(p).length == 1, s"exactly one generator:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"one corpus scan only:\n$p")
  }

  test("frame sampling (q49) is a single generator in the scan pipeline — no shuffle") {
    val p = plan(SparkEntry.queries("q49_multimodal_frames")(spark, sfDir))
    assert(!p.contains("Exchange"), s"frame sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"frame sampling must not join:\n$p")
    assert("Generate".r.findAllIn(p).length == 1, s"exactly one generator:\n$p")
  }

  test("salted join (q50) stays an equi-join and the salt column never escapes") {
    val df = SparkEntry.queries("q50_salted_join")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salting must keep the equi-join:\n$p")
    assert(!df.columns.contains("__graft_salt"), "salt column escaped the operator")
  }

  test("corpus curation (q51) composes without any all-pairs node") {
    val p = plan(SparkEntry.queries("q51_corpus_curation")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"curation must not go all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"curation joins must stay equi-joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bench/dirty sides are small by construction — joins must broadcast:\n$p")
  }

  test("corpus curation (q51) scans the documents files once — fan-out reads cached blocks") {
    // The composition fans out into dedup (agg + join-back) and
    // decontamination (bench grams, dirty ids, anti-join) — five
    // consumers of the corpus. Persisting the scored frame means the
    // EXECUTED plan reads documents from InMemoryTableScan everywhere;
    // the lone FileScan lives inside the cached relation's build plan.
    val df = SparkEntry.queries("q51_corpus_curation")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
    val memScans = p.split("InMemoryTableScan").length - 1
    assert(memScans >= 1, s"curation fan-out must read cached blocks:\n$p")
    assert(fileScans <= memScans,
      s"documents must not be re-read from files per consumer ($fileScans file scans):\n$p")
  }

  test("time travel (q45) is pure snapshot scans — no shuffle, no join") {
    val df = SparkEntry.queries("q45_time_travel")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"snapshot union must not shuffle:\n$p")
    assert(!p.contains("Join"), s"snapshot union must not join:\n$p")
  }

  test("incremental read (q47) is a delta-file scan — no shuffle, no join") {
    // (that the scan's file list is EXACTLY the appended delta is
    // pinned with manifest access in TableMetaSpec)
    val df = SparkEntry.queries("q47_incremental_read")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"incremental read must not join:\n$p")
    assert(!p.contains("Exchange"), s"incremental read must not shuffle:\n$p")
  }

  test("stream-ingest rollup (q48) is the canonical distinct-agg shape over the sink table — no join") {
    val df = SparkEntry.queries("q48_stream_ingest")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"rollup must not join:\n$p")
    // count(DISTINCT user_id) legitimately needs the two-phase distinct
    // expansion: one exchange on (day, event_type, user_id), one on the
    // final group key — anything beyond that is a regression
    assert("ShuffleQueryStage".r.findAllIn(p).length == 2,
      s"expected distinct-expansion + group-key exchanges only:\n$p")
  }

  test("events hourly (q17) is the canonical distinct-agg shape — one scan, JSON extraction map-side") {
    val df = SparkEntry.queries("q17_events_hourly")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"hourly rollup must not join:\n$p")
    val fin = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin).length == 1, s"one events scan only:\n$p")
    // count(DISTINCT user_id) needs the two-phase distinct expansion;
    // anything beyond those two exchanges is a regression
    assert("ShuffleQueryStage".r.findAllIn(p).length == 2,
      s"expected distinct-expansion + group-key exchanges only:\n$p")
    // get_json_object must be evaluated once, in the partial (map-side)
    // aggregate before the first exchange — not re-parsed post-shuffle
    // (merge_sum carries the name in its argument, so pin the partial)
    assert(fin.contains("partial_sum(CASE WHEN (cast(get_json_object"),
      s"JSON property extraction must fold into the map-side partial aggregate:\n$p")
  }

  test("partition predicate prunes the scan to the matching partition's files (q52 / S4)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_pp_spec_").toString
    val io = graft.io.TableIO(spark, wh)
    val t = "default.li_py"
    io.append(Ingestion.cleanLineitem(Tables.lineitem(spark, sfDir)).drop("ship_ts", "l_tax"),
      t, Seq("ship_year"))
    val df = io.read(t).filter(col("ship_year") === 1997)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val all = io.catalog.manifest(t, io.catalog.currentVersion(t).get)
    val matching = all.count(_.contains("ship_year=1997"))
    assert(matching > 0 && matching < all.size,
      s"fixture must be multi-partition: $matching of ${all.size} files in 1997")
    val scanned = scan.metrics("numFiles").value
    assert(scanned == matching,
      s"scan read $scanned files; only the $matching under ship_year=1997 " +
        s"(of ${all.size} total) should be touched")
  }

  test("PII redaction (q59) is one shuffle-free codegen projection over a pruned scan") {
    val p = plan(SparkEntry.queries("q59_pii_redact")(spark, sfDir))
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
    assert(!p.contains("Join"), s"redaction must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"one corpus scan only:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:"), p)
    assert(!p.contains("n_chars"), "unused columns must not be read")
  }

  test("mixture balance (q67) broadcasts the threshold side; the corpus never hash-exchanges") {
    val p = plan(SparkEntry.queries("q67_mixture_balance")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"threshold join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the corpus must not shuffle into the join:\n$p")
  }

  test("embedding centroids (q68) partial-combine: exactly two hash exchanges, no join") {
    val p = plan(SparkEntry.queries("q68_embedding_centroids")(spark, sfDir))
    assert(!p.contains("Join"), s"centroids must not join:\n$p")
    // AQE's toString prints the final AND the initial plan — count the
    // final section only
    val finalPlan = p.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(n == 2, s"expected 2 exchanges (one per agg level), got $n:\n$finalPlan")
  }

  test("q46 repeat runs reuse one catalog — session confs stay stable") {
    SparkEntry.queries("q46_merge_dml")(spark, sfDir).collect()
    val afterFirst = spark.conf.getAll.keys.count(_.startsWith("spark.sql.catalog."))
    SparkEntry.queries("q46_merge_dml")(spark, sfDir).collect()
    SparkEntry.queries("q46_merge_dml")(spark, sfDir).collect()
    val afterThird = spark.conf.getAll.keys.count(_.startsWith("spark.sql.catalog."))
    // a per-invocation catalog name leaked 2 conf keys + a cached
    // catalog instance per run (3 runs x N bench rounds); a fixed name
    // must add nothing after the first run
    assert(afterThird == afterFirst,
      s"catalog confs grew across q46 runs: $afterFirst -> $afterThird")
  }

  test("native cosine stays inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sfDir)
      .select(expr(graft.similarity.Similarity.doubleVec("embedding")).as("v"))
      .select(expr("graft_cosine(v, v)").as("c"))
    e.collect()
    val p = e.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen stage in the compact rendering
    val cosLine = p.linesIterator.find(_.contains("graft_cosine")).getOrElse("")
    assert(cosLine.trim.startsWith("*("), s"graft_cosine not codegen'd:\n$p")
  }

  test("segment deciles (q87) window is PARTITIONED — never a global single-partition sort") {
    val p = plan(Aggregations.segmentDeciles(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir)))
    assert(p.contains("ntile"), p)
    // the window spec must carry the segment as partition key; an empty
    // partitionBy would render windowspecdefinition(revenue... directly
    assert(p.contains("windowspecdefinition(c_mktsegment"),
      s"NTILE window lost its partition key (global sort at scale):\n$p")
  }

  test("interval join query (q88) plans equi-joins only") {
    val p = plan(SparkEntry.queries("q88_interval_join")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q88 must not fall back to a nested-loop range join:\n$p")
  }

  test("IVM delta (q85 shape) aggregates the changelog with map-side combine and joins on group keys") {
    import graft.operators.ViewMaintenance
    import graft.operators.ViewMaintenance.Measure
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val summary = ViewMaintenance.summarize(base, Seq("o_orderpriority"), "n",
      Seq(Measure("o_totalprice", "tp", 2)))
    val changelog = base.withColumn("_change_type", lit("INSERT"))
      .withColumn("_change_version", lit(2))
    val out = ViewMaintenance.applyDelta(summary, changelog, Seq("o_orderpriority"), "n",
      Seq(Measure("o_totalprice", "tp", 2)))
    val p = plan(out)
    // partial_sum in the pre-shuffle HashAggregate = the delta shuffle
    // carries one row per (group, partition), not per change row
    assert(p.contains("partial_sum"), s"changelog aggregate lost its map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span dedup (q98) is pair-free and reuses the doc partitioning for the span aggregate") {
    val df = graft.text.SpanDedup.duplicatedSpans(
      Tables.documents(spark, sfDir), cache = false)
    val p = plan(df)
    // never enumerates document pairs: no self-join blow-up possible
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay equi-keyed:\n$p")
    // occurrence count map-side combines on the 8-byte gram hash
    assert(p.contains("partial_count"), s"gram occurrence count lost its map-side combine:\n$p")
    // at most 3 shuffles: occ-count by hash, semi-join probe side by
    // hash (AQE broadcasts the small dup side here), island window by
    // doc id — the final (doc, island) span aggregate must REUSE the
    // window's doc-id partitioning (subset clustering), not add one
    val finalPlan = p.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(n <= 3, s"expected <= 3 hash exchanges (span agg must reuse doc partitioning), got $n:\n$finalPlan")
  }
}
