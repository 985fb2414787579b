package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off 10x scale probe (VERDICT r8 item 7). No sf1 testdata exists,
  * so this builds a simulated one: every FACT table replicated
  * `Copies` times with disjoint key ranges, dimension tables kept at
  * 1x (duplicating dim keys would fan out joins and change semantics,
  * which is not what a scale-up does). Documents are the subtle case —
  * naive replication makes each copy a near-duplicate of the others
  * and near-dup candidate volume would grow quadratically BY
  * CONSTRUCTION OF THE DATA; instead each copy i>0 remaps every token
  * into a disjoint per-copy token space (bijective suffix), preserving
  * within-copy Jaccard structure exactly while keeping cross-copy
  * similarity at zero. The sim is therefore "10 independent shards of
  * the same distribution" — what a real 10x corpus looks like — and
  * observed wall-time ratios measure algorithmic scaling, not
  * fixture-induced candidate blowup.
  *
  * Emits one JSON line per (query, scale) with raw per-run timings;
  * SCALE.md records the conclusions.
  */
object ScaleProbe {
  private val Copies = 10
  private val KeyStride = 100000000L
  private val FixtureRev = 2 // r10: embeddings get a per-copy signed rotation

  private val ProbeQueries = Seq(
    "q07_top_pairs", "q12_dedup_minhash", "q13_dedup_neardup",
    "q40_dedup_clusters", "q48_stream_ingest", "q51_corpus_curation",
    "q54_decontaminate_bloom", "q55_incremental_dedup", "q56_incremental_embedding_dedup",
    "q57_incremental_curation", "q58_fuzzy_dedup_corpus",
    "q73_winnow_fingerprint", "q74_winnow_pairs", "q75_winnow_clusters",
    "q79_jaccard_join",
    // text-stats / tokenizer projections (r13: codegen-fusion audit)
    "q15_text_stats", "q16_text_lang_summary", "q30_vocab_topk",
    "q42_repetition_stats", "q70_doc_keywords",
    // r13 late additions: IVM (cost ∝ changelog), FK audit (pre-agg
    // anti-joins), interval join (co-activity output grows ~100x at
    // 10x users BY SEMANTICS — probe separates join cost from output)
    "q85_ivm_rollup", "q86_integrity_audit", "q88_interval_join",
    // cross-set cell-bucketed exact cosine join (triangle-inequality
    // cell-pair pruning; near-random fixture = worst case, all pairs)
    "q94_embedding_decontaminate",
    // span dedup is pair-free by construction — the boiler stress that
    // blows q13 up 72x should cost span dedup only the extra linear
    // duplicated positions. (The HLL claim is probed by the dedicated
    // hll_estimate_only block below, NOT q100: q100's exact
    // count(DISTINCT) side shuffles every distinct value and would
    // mask a register-path regression.)
    "q98_dup_spans", "q99_span_dedup_corpus",
    // token-budget mix: per-stratum window over (hash, id) order; CMS:
    // sketch shuffle bounded at 4096 cells + broadcast probe join
    "q103_token_budget_mix", "q104_cms_heavyhitters",
    // streaming sketch maintenance: state lives in the TABLE (bounded
    // at keys x registers / 4096 cells), so 10x events cost more
    // micro-batch input, never more state
    "q105_stream_hll", "q106_stream_cms",
    // exact-k sample: bounded topk aggregate — cost should track the
    // scan, state stays strata x k regardless of corpus size
    "q110_exact_k_sample",
    // SPJ join (r15): zero-exchange is plan-level; bytes-wise the
    // query is scan-bound on orders (10x in sim, customer stays 1x) —
    // expected ~linear in input, never super-linear (no shuffle to
    // blow up). Audio decode (r15): per-doc codec, linear in blobs.
    "q126_spj_join", "q128_audio_decode",
    // MOR DML (r14): the delete/update sides are O(matched rows) and
    // the q121 upsert is O(batch) by construction — 10x lineitem means
    // 10x build + matched volume for q119/q120 (so ~linear total is
    // the honest expectation; the claim under test is the ABSENCE of
    // any table-sized rewrite), while q121's supplier batch is fixed
    // so its cost should be FLAT at 10x facts (suppliers are a dim,
    // kept 1x by the sim — the probe pins the zero-read write).
    "q119_mor_delete", "q120_mor_update", "q121_mor_upsert",
    // r14: hidden-partition layouts (write + pruned catalog scan; the
    // layout write is the dominant cost and must scale with data, the
    // pruned scan with the MATCHING partitions) and the SemDeDup
    // corpus op (rides the q27 cell-bucketed pair join + one anti-join)
    "q111_hidden_days_prune", "q112_hidden_bucket_prune", "q113_semdedup_corpus",
    // real PNG pixel kernels: embarrassingly parallel mapPartitions —
    // cost must track the document count, with no shuffle at all
    "q114_image_decode", "q115_image_resize",
    // Gopher rules: one codegen'd regexp projection, same class as q15
    "q116_gopher_rules",
    // r16: maintenance-tolerant stream — the skip walk is
    // metadata-sized (O(versions), manifest reads only); the benched
    // query's cost is the honest linear part (10x events appended,
    // compacted once, drained once), so ~linear total is the
    // expectation and the claim under test is nothing super-linear
    "q132_stream_skip_rewrites",
    // r16: streaming CDF over the supplier script — supplier is a DIM
    // (kept 1x by the sim), so the probe pins the whole CDF machinery
    // (offset walk, constant-tag partitions, staged rewrite diffs) at
    // FLAT cost under 10x fact growth
    "q133_stream_changelog",
    // r17: BRANCH changelog stream — same dim-script shape as q133,
    // plus fork-id offset resolution and branch-manifest walks: FLAT
    // expected under 10x fact growth
    "q138_branch_stream_cdc",
    // r16: real AVI encode→demux→decode — per-doc container codec,
    // embarrassingly parallel mapPartitions like images/audio: cost
    // must track the document count linearly, no shuffle at all
    "q134_video_decode", "q135_video_frame_sample",
    // r17: MJPEG is per-row codec CPU (shuffle-free) — expect linear
    // absorbed by cores like the image/DIB paths; the LM probe pins
    // the CCNet shape: 10x corpus = 10x train slice + 10x scored docs,
    // model tables stay broadcast, scoring stays map-side — the
    // sublinear claim is that NOTHING is corpus x model
    "q139_mjpeg_decode", "q140_lm_perplexity",
    // r17 table-layer features: the rate-limited catch-up serves 10x
    // rows per capped batch (cap is in VERSIONS, so batch count stays
    // 4); the metadata aggregate and metadata delete are O(manifest)
    // by construction — the probe pins FLAT; the runtime-filtered star
    // join scans only matching fact files at either scale
    "q141_rate_limited_catchup", "q142_metadata_agg",
    "q143_metadata_delete", "q144_runtime_filter_join",
    // scoped compaction rewrites only the predicate-touched bytes
    // (10x hot range = 10x rewrite, never table-sized); DSIR's bucket
    // model is capped at 10k rows at ANY corpus size — broadcast
    // scoring should hold near-flat against 10x docs
    "q145_scoped_compaction", "q146_dsir_selection",
    // write sort order: the range shuffle + sort is the honest linear
    // cost (10x rows sorted); the claim under test is that nothing is
    // table-sized beyond the batch being written
    "q147_write_sort_order",
    // r18: the filtered metadata aggregate is O(manifest) like q142 —
    // probe pins FLAT-ish (the fixture write is the linear part);
    // distributed centroid training is O(sample x nlist) independent
    // of corpus size past the sample cap — near-flat expected; the
    // two crawl-scale alternates must hold the shapes they were built
    // for: q150 has no corpus-wide NTILE (near-linear in the scan),
    // q151 swaps the global rank for a sample threshold (same)
    "q148_filtered_metadata_agg", "q149_distributed_centroids",
    "q150_ppl_sample_buckets", "q151_dsir_threshold",
    // r18 table-feature batch: all four are fixture-write-dominated
    // (the feature itself is metadata + an in-pass guard/clustering) —
    // the probe pins nothing super-linear: defaults/constraints are
    // per-row codegen'd projections, widening is pure metadata, and
    // hash distribution replaces the write's task fan-out with one
    // shuffle of the batch being written
    "q152_column_defaults", "q153_type_widening",
    "q154_write_distribution", "q155_check_constraints",
    // r19: views resolve at ANALYSIS time (one ~KB document read) —
    // the probe pins the query cost as the underlying aggregate's,
    // with zero view-layer scaling; NOT NULL rides the same in-pass
    // guard as CHECK (fixture-write dominated)
    "q156_persisted_view", "q157_notnull_constraints",
    // r19 BPE: one codegen projection per doc (q158), plus the same
    // shard-window machinery as q43/q103 — linear in the corpus,
    // no new shuffle; the kernel cost is per-byte, not per-merge-table
    "q158_bpe_token_count", "q159_bpe_sequence_pack", "q160_bpe_budget_mix",
    // r19 IVF-PQ: the claim under test is SHIPPED-BYTES scaling — the
    // probe join's corpus side carries one BIGINT code per vector, so
    // 10x vectors cost 10x codes (+ the fixed queries x rerank exact
    // re-scores), never 10x full vectors through the join
    "q161_ann_ivfpq",
    // r19: partitioned DML — the UPDATE is layout-dir scoped (only
    // the matching year's files rewrite, at any table size) and the
    // MERGE's cost is the matched files + the layout hop's second
    // write of REPLACED bytes only — the probe pins nothing
    // table-sized beyond the fixture's own 10x overwrite
    "q162_partitioned_dml",
    // r20: materialized view — creation pays one fixture-sized full
    // compute by design; the REFRESH half is the scale claim
    // (O(changelog delta + groups), byte-probed directly in
    // MaterializedViewSpec) and the fixture's two refreshes dominate
    // the timing at neither scale
    "q163_materialized_view",
    // r20: schema-evolution MERGE — the evolution itself is one
    // metadata ALTER inside the commit; the MERGE pays the normal
    // row-ops rewrite (file-scoped by the join's key range)
    "q164_merge_schema_evolution",
    // r20: vacuum — expiry is O(manifests), the sweep is one
    // directory listing + liveness set union (O(manifest entries)),
    // never a data read; the fixture's writes dominate at any scale
    "q165_vacuum_retention",
    // r20: streaming MV maintenance — per micro-batch the same
    // O(delta + groups) math as batch refresh, plus the stream's
    // fixed WAL/commit overhead
    "q166_mv_stream_maintain",
    // r20: MV query rewrite — SERVING is the scale claim: the
    // rewritten aggregate reads O(groups) backing rows regardless of
    // base size (plan-asserted in-query at both scales); the fixture
    // pays the create's full compute + one refresh
    "q167_mv_query_rewrite")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val simDir = args.headOption.getOrElse("/tmp/graft_sf1sim")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    val spark = SessionFactory.build("graft-scale-probe")
    // keep graft's own phase-timing INFO lines visible under the WARN root
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft", org.apache.logging.log4j.Level.INFO)
    if (sys.env.contains("SPARK_GRAFT_JOBLOG"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", org.apache.logging.log4j.Level.INFO)
    Bench.warmUp(spark)
    // the marker records WHICH fixture variant (and generator revision)
    // was built — switching SPARK_GRAFT_SIM_MODE or changing buildSim
    // must rebuild, not silently reuse stale data. Bump FixtureRev on
    // any buildSim change.
    val mode = sys.env.getOrElse("SPARK_GRAFT_SIM_MODE", "cipher")
    val stamp = s"$mode-$FixtureRev"
    val marker = Paths.get(simDir, "_SIM_DONE")
    val built = if (Files.exists(marker)) Files.readString(marker).trim else ""
    if (built != stamp) {
      buildSim(spark, srcDir, simDir, mode)
      Files.writeString(marker, stamp)
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "sf0.1,sf1sim").split(',').toSet
    def wanted(name: String, scale: String): Boolean =
      scales.contains(scale) && only.forall(_.contains(name))
    def report(name: String, scale: String, secs: Seq[Double]): Unit = println(
      s"""{"probe":"$name","scale":"$scale","runs":${secs.map(Bench.r4).mkString("[", ",", "]")}}""")
    def timed[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); (f, (System.nanoTime() - t0) / 1e9) }
    def probe(dir: String, scale: String): Unit = ProbeQueries.filter(wanted(_, scale)).foreach { name =>
      report(name, scale, Seq.fill(runs)(Bench.timeOnce(spark, dir, SparkEntry.queries(name))).flatten.map(_._1))
    }
    probe(srcDir, "sf0.1")
    probe(simDir, "sf1sim")
    // Upsert-scoping probe (not a harness query): a FIXED 100-key CDC
    // batch against the orders table at 1x vs 10x. With a sorted file
    // layout the batch's key range maps to ~1 tile at either scale, so
    // the upsert cost should track the BATCH, not the table — the
    // claim that makes TableIO.upsert a CDC-apply primitive at 100 TB.
    def upsertProbe(dir: String, scale: String): Unit = if (wanted("upsert_fixed_batch", scale)) {
      val io = graft.io.TableIO(spark,
        java.nio.file.Files.createTempDirectory("graft_upsp_").toString)
      val orders = graft.tables.Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      io.append(orders, "default.ups")
      io.compactSorted("default.ups", Seq("o_orderkey"), targetFiles = 32)
      val batch = orders.filter(col("o_orderkey") < 100)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      report("upsert_fixed_batch", scale,
        Seq.fill(runs)(timed(io.upsert("default.ups", batch, Seq("o_orderkey")))._2))
    }
    upsertProbe(srcDir, "sf0.1")
    upsertProbe(simDir, "sf1sim")
    // Dirty-DML probe (r15, not a harness query): q125's supplier base
    // is a dim (1x at both scales), so the harness row can't show the
    // scale claim. This one can: a FIXED key band is MOR-deleted, then
    // SQL-UPDATEd while dirty, against orders at 1x vs 10x. Both
    // predicates are stats-prunable and the layout is key-sorted, so
    // carried files dominate at either scale and the merged rewrite
    // touches ~the band's tile — cost should track the BAND, not the
    // table. Run i uses the i-th band of the orders key range, 2000
    // keys wide or narrower when the range holds fewer than `runs` such
    // bands, so every run's band holds rows at every scale and every
    // run exercises the dirty path (a reused band would find its rows
    // already deleted and take the clean-table path instead).
    def dirtyDmlProbe(dir: String, scale: String): Unit = if (wanted("dirty_dml_fixed_band", scale)) {
      val wh = java.nio.file.Files.createTempDirectory("graft_ddp_").toString
      val io = graft.io.TableIO(spark, wh)
      val t = "default.dd"
      io.append(graft.tables.Tables.orders(spark, dir)
        .select(col("o_orderkey").cast("bigint").as("okey"),
          col("o_custkey").cast("bigint").as("ckey"),
          col("o_totalprice").cast("double").as("price")), t)
      io.compactSorted(t, Seq("okey"), targetFiles = 32)
      val cat = "gddp" + scale.replace(".", "_")
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.io.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val range = io.read(t).agg(min("okey"), max("okey")).head()
      val width = math.min(2000L, (range.getLong(1) - range.getLong(0) + 1) / runs)
      require(width >= 2, s"dirty-DML probe: orders keys too few for $runs bands")
      report("dirty_dml_fixed_band", scale, (0 until runs).map { i =>
        val lo = range.getLong(0) + i * width
        val base = io.catalog.manifest(t, io.catalog.currentVersion(t).get).toSet
        val ((_, nDel), dt) = timed {
          val del = io.deleteWhereMOR(t,
            col("okey") >= lo && col("okey") < lo + width && col("okey") % 7 === 3)
          spark.sql(s"UPDATE $cat.$t SET price = price + 1 " +
            s"WHERE okey >= $lo AND okey < ${lo + width / 2}")
          del
        }
        require(nDel > 0, s"dirty-DML probe band $i matched nothing")
        val v = io.catalog.currentVersion(t).get
        val rewritten = base.diff(io.catalog.manifest(t, v).toSet)
        // the band's files above the UPDATE's range keep their entries:
        // UPDATE guarantees only that no entry outlives a file it rewrote
        val dirty = io.catalog.pendingDeletes(t, v).flatMap(_.dirtyFiles)
        require(rewritten.nonEmpty, s"dirty-DML probe band $i rewrote nothing")
        require(!dirty.exists(rewritten), "UPDATE left an entry on a file it rewrote")
        dt
      })
    }
    dirtyDmlProbe(srcDir, "sf0.1")
    dirtyDmlProbe(simDir, "sf1sim")
    // Pure-estimate HLL probe (not a harness query): q100 pairs the
    // sketch with an exact count(DISTINCT) whose value shuffle would
    // mask a register-path regression. This times ONLY the
    // registers -> estimate pipeline, whose post-scan shuffle is
    // bounded at groups x 1024 rows at any input size — the probe
    // should scale with the SCAN, nothing else.
    def hllProbe(dir: String, scale: String): Unit = if (wanted("hll_estimate_only", scale)) {
      val estimate = (s: SparkSession, d: String) => graft.functions.HyperLogLog.estimate(
        graft.tables.Tables.lineitem(s, d), "CAST(l_orderkey AS STRING)", Seq("l_returnflag"))
      report("hll_estimate_only", scale,
        Seq.fill(runs)(Bench.timeOnce(spark, dir, estimate)).flatten.map(_._1))
    }
    hllProbe(srcDir, "sf0.1")
    hllProbe(simDir, "sf1sim")
    spark.stop()
  }

  private def replicate(base: DataFrame)(perCopy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until Copies).map(i => perCopy(base, i)).reduce(_ unionAll _)

  private def shift(c: String, i: Int): Column = col(c) + lit(i.toLong * KeyStride)

  private def buildSim(spark: SparkSession, src: String, dst: String, mode: String): Unit = {
    val dense = mode == "dense"
    // events stores INT64 TIMESTAMP(NANOS); read it as a raw long (the
    // sim writes plain INT64 nanos, which Tables.events' `ts div 1000`
    // conversion handles identically)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def raw(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(raw(t), t)) // dims stay 1x
    // fact joins stay consistent: l_orderkey and o_orderkey shift together
    write(replicate(raw("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", shift("l_orderkey", i)) }, "lineitem")
    write(replicate(raw("orders")) { (d, i) =>
      d.withColumn("o_orderkey", shift("o_orderkey", i)) }, "orders")
    // per-user event counts stay constant; user cardinality scales 10x
    write(replicate(raw("events")) { (d, i) =>
      d.withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i)) }, "events")
    // Per-copy CHARACTER substitution cipher (letters+digits rotated by
    // i): shingles are character n-grams, so the map must be bijective
    // per CHARACTER to preserve within-copy pairwise Jaccard exactly —
    // a first attempt that suffixed every token instead injected shared
    // `_cN ` substrings into every doc of a copy and pushed thousands
    // of sub-threshold pairs over 0.7 (a 55,000x pair explosion; kept
    // as the dense-graph stress datapoint in SCALE.md). Unmapped chars
    // (space/punct) leak only punctuation-run shingles across copies —
    // a handful of shared elements against ~1e3 per doc.
    // dense=true keeps the suffix variant ON PURPOSE as a dense-graph
    // stress fixture: ~100x the pair volume and multi-round convergence
    // chains across copies — the regime that exposed the
    // exponential-lineage driver stall this round.
    val alpha = ('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString
    // mode=boiler (r13, VERDICT item 8): every document of EVERY copy
    // gets the SAME un-ciphered boilerplate paragraph appended — the
    // shared-license-header / navigation-chrome corpus shape. Its word
    // k-grams appear in all Copies x nDocs documents, so WITHOUT the
    // df <= maxDf mask the winnow self-join would put the whole corpus
    // in one bucket (~50k^2/2 pairs at 10x); with it, every
    // boilerplate gram is dropped by a deterministic corpus-wide
    // threshold and pair volume must stay at the clean fixture's.
    // (MinHash near-dup sees the same stress through its char-shingle
    // buckets and the maxBucket cap.)
    val boilerplate = " copyright 2024 the example corpus project all rights " +
      "reserved redistribution and use in source and binary forms with or " +
      "without modification are permitted provided that the following " +
      "conditions are met see the license file for the full terms of use"
    write(replicate(raw("documents")) { (d, i) =>
      val remapped =
        if (dense && i > 0) d.withColumn("text",
          array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_c$i"))), " "))
        else if (i == 0) d
        else d.withColumn("text",
          translate(col("text"), alpha, alpha.drop(i * 7 % alpha.length) + alpha.take(i * 7 % alpha.length)))
      val boiled =
        if (mode == "boiler") remapped.withColumn("text", concat(col("text"), lit(boilerplate)))
        else remapped
      boiled
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("doc_id", shift("doc_id", i))
    }, "documents")
    // Per-copy SIGNED COORDINATE ROTATION (an orthogonal map): rotate
    // coordinates by 13*i and flip the sign of blocks of i+1 — exact
    // preservation of every within-copy inner product and norm, while
    // cross-copy cosine decorrelates. Verbatim replication instead
    // gave every vector ~(Copies-1) exact cross-copy twins (cos=1.0),
    // so q56/q26 candidate volume at sf1sim grew superlinearly by
    // fixture construction — the same artifact the documents character
    // cipher above avoids. Block sign patterns (length i+1) rather
    // than alternating: two alternating patterns multiply to a
    // CONSTANT sign, which would leave cross-copy cosine at the
    // (possibly large) circular autocorrelation of the vector.
    write(replicate(raw("embeddings")) { (d, i) =>
      val rotated =
        if (i == 0) d
        else d.withColumn("embedding", expr(
          s"""transform(sequence(0, size(embedding) - 1),
             |  j -> CAST(CASE WHEN pmod(CAST(floor(j / ${i + 1}) AS INT), 2) = 0
             |            THEN -1.0 ELSE 1.0 END AS FLOAT)
             |       * element_at(embedding, pmod(j + ${i * 13}, size(embedding)) + 1))""".stripMargin))
      rotated.withColumn("vec_id", shift("vec_id", i)) }, "embeddings")
  }
}
