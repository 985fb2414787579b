package graft

import org.apache.spark.sql.functions._

import graft.events.Events
import graft.similarity.Similarity

class EventsSpec extends SparkSpec {
  import spark.implicits._

  // user 1: two sessions (gap 31 min between 2nd and 3rd event);
  // user 2: one session of one event.
  private def events = Seq(
    (1L, 1L, "2024-01-01 10:00:00", "click", 1.0, """{"k": 60}"""),
    (2L, 1L, "2024-01-01 10:10:00", "view", 2.0, """{"k": 10}"""),
    (3L, 1L, "2024-01-01 10:41:00", "click", 4.0, """{"k": 99}"""),
    (4L, 2L, "2024-01-01 23:59:00", "error", 8.0, """{"k": 1}""")
  ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    .withColumn("ts", to_timestamp($"ts"))

  test("hourly rollup buckets by hour and extracts JSON props") {
    val out = Events.hourly(events).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_ts").toString, r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_high_k"))).toMap
    assert(out(("2024-01-01 10:00:00.0", "click")) == (2L, 2L)) // k=60 and k=99 both > 50
    assert(out(("2024-01-01 10:00:00.0", "view")) == (1L, 0L))
    assert(out(("2024-01-01 23:00:00.0", "error")) == (1L, 0L))
  }

  test("conversion funnel: stage gating, horizon bound, exact delays") {
    // u1: view 10:00 -> click 10:30 (in horizon) -> purchase 11:00.
    // u2: view 09:00, click 25h later (OUT of horizon) -> not a clicker.
    // u3: click with NO view -> not in the funnel at all.
    // u4: view 08:00 -> click 08:10; purchase BEFORE the click -> not a purchaser.
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"), (2L, 1L, "2024-01-01 10:30:00", "click"),
      (3L, 1L, "2024-01-01 11:00:00", "purchase"),
      (4L, 2L, "2024-01-01 09:00:00", "view"), (5L, 2L, "2024-01-02 10:01:00", "click"),
      (6L, 3L, "2024-01-01 12:00:00", "click"),
      (7L, 4L, "2024-01-01 08:00:00", "view"), (8L, 4L, "2024-01-01 08:10:00", "click"),
      (9L, 4L, "2024-01-01 08:05:00", "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("ts", to_timestamp($"ts"))
    val r = Events.conversionFunnel(ev).head()
    assert(r.getAs[Long]("n_viewers") == 3L)    // u1, u2, u4
    assert(r.getAs[Long]("n_clickers") == 2L)   // u1 (30 min), u4 (10 min)
    assert(r.getAs[Long]("n_purchasers") == 1L) // u1 only
    assert(math.abs(r.getAs[Double]("avg_view_to_click_sec") - (1800.0 + 600.0) / 2) < 1e-9)
    assert(math.abs(r.getAs[Double]("avg_click_to_purchase_sec") - 1800.0) < 1e-9)
  }

  test("cohort retention: first-event week cohorts x active-week offsets") {
    // 2024-01-01 is a Monday. u1: weeks 0 and 2; u2: week 1 only.
    val ev = Seq(
      (1L, 1L, "2024-01-03 10:00:00"), (2L, 1L, "2024-01-04 11:00:00"), // week of Jan 1
      (3L, 1L, "2024-01-16 09:00:00"),                                   // week of Jan 15 (+2)
      (4L, 2L, "2024-01-10 12:00:00")                                    // week of Jan 8
    ).toDF("event_id", "user_id", "ts")
      .withColumn("ts", to_timestamp($"ts"))
    val out = Events.cohortRetention(ev).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_week").toString, r.getAs[Int]("week_offset")) ->
        r.getAs[Long]("n_users")).toMap
    assert(out == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 2) -> 1L, ("2024-01-08", 0) -> 1L))
  }

  test("sessionize splits on gaps > 30 min") {
    val s = Events.sessionize(events).select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) == 1L && s(2L) == 1L)
    assert(s(3L) == 2L)
    assert(s(4L) == 1L)
  }

  test("sessionStats aggregates per user") {
    val out = Events.sessionStats(events).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"),
         r.getAs[Long]("max_session_events"), r.getAs[Double]("total_value"))).toMap
    assert(out(1L) == (2L, 3L, 2L, 7.0))
    assert(out(2L) == (1L, 1L, 1L, 8.0))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // Orthogonal-ish unit vectors: 0 aligns with 2, anti-aligns with 3.
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Array(0.5f, 0.5f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("labelCentroids mean-pools per group, in position order, quantized at 1e-8") {
    val emb = Seq(
      (0L, 0L, Array(1.0f, 0.0f, 0.5f)),
      (1L, 0L, Array(0.0f, 1.0f, 0.5f)),
      (2L, 1L, Array(0.25f, 0.25f, 0.25f))
    ).toDF("vec_id", "label", "embedding")
    val byLabel = graft.similarity.Similarity.labelCentroids(emb)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2).toList)).toMap
    assert(byLabel(0L) == ((2L, List(0.5, 0.5, 0.5))), s"label 0: ${byLabel(0L)}")
    assert(byLabel(1L) == ((1L, List(0.25, 0.25, 0.25))), s"label 1: ${byLabel(1L)}")
    // the exploded aggregate must partial-combine map-side: the final
    // shuffle carries (groups x dim), so exactly two exchanges total
    // (one per aggregation level), never a rows x dim reshuffle extra
    val plan = graft.similarity.Similarity.labelCentroids(emb).queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nExchanges == 2, s"expected exactly 2 exchanges, got $nExchanges in:\n$plan")
  }

  test("embeddingDecontaminate equals the brute-force cross-set filter on the real corpus") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bucket = graft.sampling.Sampling.portableBucket("vec_id", 10)
    val (corpus, bench) = (e.filter(bucket < 8), e.filter(bucket >= 8))
    val got = Similarity.embeddingDecontaminate(corpus, bench, threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    // brute force: corpus ids minus any with a >= t bench neighbor
    val cv = corpus.select($"vec_id", org.apache.spark.sql.functions.expr(
      Similarity.doubleVec("embedding")).as("v")).as[(Long, Seq[Double])].collect()
    val bv = bench.select(org.apache.spark.sql.functions.expr(
      Similarity.doubleVec("embedding")).as("v")).as[Seq[Double]].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = cv.filter { case (_, v) => !bv.exists(b => cos(v, b) >= 0.4) }.map(_._1).toSet
    assert(got == expect, s"sizes got=${got.size} expect=${expect.size}")
    assert(expect.size < cv.length, "fixture should contain at least one contaminated vector")
  }

  test("embeddingDecontaminate works when corpus+bench are smaller than nlist") {
    // 5 vectors total, default nlist = 16: trainCentroids yields 5
    // centroids; the candidate loop must iterate what was trained
    val corpus = vecs.filter($"vec_id" <= 2)
    val bench = vecs.filter($"vec_id" > 2)
    val out = Similarity.embeddingDecontaminate(corpus, bench, threshold = 0.6)
      .select("vec_id").as[Long].collect().toSet
    // bench = {3: -e1, 4: (.5,.5)}; cos(0,4)=.707>=0.6 contaminated;
    // cos(2,4)~.79 contaminated; cos(1,4)=.707 contaminated -> empty
    assert(out == Set.empty[Long])
    val out2 = Similarity.embeddingDecontaminate(corpus, vecs.filter($"vec_id" === 3), 0.6)
      .select("vec_id").as[Long].collect().toSet
    assert(out2 == Set(0L, 1L, 2L)) // -e1 is far from all of them
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => r.getAs[Int]("rn") -> r.getAs[Long]("neighbor_id")).toMap
    assert(out(1) == 2L) // cos ~ 0.994
    assert(out(2) == 4L) // cos ~ 0.707
    assert(out(3) == 1L) // cos 0
    assert(out(4) == 3L) // cos -1
  }

  test("quantizedTopK: power-of-two grid clamps exactly; integer ties break by id") {
    // floor(x*256) with clamp: 1.0 -> 127, -1.0 -> -128, 0.9f -> 127
    // (230 pre-clamp), 0.5 -> 127 (128 pre-clamp), 0.1f -> 25
    val q8 = vecs.selectExpr("vec_id",
        graft.similarity.Similarity.quantizeSql("embedding", 256) + " AS v8")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(q8(0L) == List(127L, 0L, 0L, 0L))
    assert(q8(3L) == List(-128L, 0L, 0L, 0L))
    assert(q8(2L) == List(127L, 25L, 0L, 0L))
    assert(q8(4L) == List(127L, 127L, 0L, 0L))
    // query v0: v2 and v4 tie at dot 127*127 — id ASC breaks the tie
    val out = Similarity.quantizedTopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => r.getAs[Int]("rn") -> (r.getAs[Long]("neighbor_id"), r.getAs[Long]("int_dot")))
      .toMap
    assert(out(1) == ((2L, 16129L)), s"rank 1: ${out(1)}")
    assert(out(2) == ((4L, 16129L)), s"tie must break to larger id second: ${out(2)}")
    assert(out(3) == ((1L, 0L)))
    assert(out(4) == ((3L, -16256L)))
  }

  test("IVF with full probes equals brute force; partial probes return valid rankings") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bf = Similarity.bruteForceTopK(e, nQueries = 4, k = 3)
      .select("q_id", "rn", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ivfFull = Similarity.ivfTopK(e, nQueries = 4, k = 3, nlist = 8, nprobe = 8, iters = 1)
      .select("q_id", "rn", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ivfFull == bf)

    val ivfPartial = Similarity.ivfTopK(e, nQueries = 4, k = 3, nlist = 8, nprobe = 2, iters = 2)
      .collect()
    assert(ivfPartial.nonEmpty)
    assert(ivfPartial.forall(_.getAs[Int]("rn") <= 3))
    assert(ivfPartial.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("q_id")))
  }

  test("trainCentroidsFrame equals the driver Lloyd loop value-for-value at small k") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr(Similarity.doubleVec("embedding")).as("v"))
    val driver = Similarity.trainCentroids(e, nlist = 8, iters = 2)
    val frame = Similarity.trainCentroidsFrame(e, nlist = 8, iters = 2)
    val got = frame.collect()
      .map(r => r.getAs[Long]("cell") -> r.getSeq[Double](1).toSeq).toMap
    frame.unpersist()
    assert(got.keySet === driver.indices.map(_.toLong).toSet)
    driver.indices.foreach { c =>
      assert(got(c.toLong) === driver(c), s"cell $c diverged")
    }
  }

  test("trainCentroidsFrame trains k = 10^4 centroids with no driver collect") {
    // clustering-scale k: 10k centroids over 12k synthetic vectors —
    // the driver loop refuses above 4096 (collect + literal scale with
    // k x dims); the frame path's only driver traffic is counts
    val k = 10000
    val e = spark.range(12000).selectExpr("id AS vec_id",
      // 4-dim deterministic unit-ish vectors, distinct per id
      """array(CAST(1 + id % 97 AS DOUBLE), CAST(1 + id % 89 AS DOUBLE),
        |      CAST(1 + id % 83 AS DOUBLE), CAST(1 + (id * 7) % 101 AS DOUBLE)) AS v""".stripMargin)
    val cents = Similarity.trainCentroidsFrame(e, nlist = k, iters = 1, samplePerCell = 1)
    assert(cents.count() === k.toLong)
    // a refinement happened: at least one centroid moved off bootstrap
    val boot = e.orderBy("vec_id").limit(k)
    val moved = cents.join(boot, cents("cell") === boot("vec_id"))
      .filter(col("cv") =!= col("v")).count()
    assert(moved > 0, "one Lloyd round must move at least one centroid")
    cents.unpersist()
    // the driver path refuses the same k, naming the bound
    val ex = intercept[IllegalArgumentException](
      Similarity.trainCentroids(e, nlist = k, iters = 1))
    assert(ex.getMessage.contains("4096"))
  }

  private def recallOn(corpus: org.apache.spark.sql.DataFrame,
                       approx: org.apache.spark.sql.DataFrame,
                       nQueries: Int, k: Int): Double = {
    val truth = Similarity.bruteForceTopK(corpus, nQueries, k).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = approx.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    (truth & got).size.toDouble / truth.size
  }

  private def recallVsBruteForce(approx: org.apache.spark.sql.DataFrame,
                                 nQueries: Int, k: Int): Double =
    recallOn(graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001"),
      approx, nQueries, k)

  /** Mixture-of-Gaussians fixture: production-shaped CLUSTERED
    * embeddings, vs the near-random testdata vectors that are the
    * worst case for both ANN paths. Cluster ids interleave across
    * vec_id so the query set (vec_id < nQueries) spans every cluster.
    * sigma=0.05/coord on unit centers → same-cluster cosine ~0.93,
    * cross-cluster ~0 — separation typical of sentence embeddings.
    */
  private def clusteredEmbeddings(nClusters: Int = 8, perCluster: Int = 50,
                                  dim: Int = 32): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = for (i <- 0 until perCluster; c <- 0 until nClusters) yield {
      val v = unit(centers(c).map(x => x + 0.05 * rnd.nextGaussian()))
      ((i * nClusters + c).toLong, v.map(_.toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("IVF recall@5 vs brute force meets a quantitative floor at default probes") {
    // Deterministic (fixed bootstrap, bounded deterministic Lloyd
    // sample, fixed data): measured 0.9625 at the nlist=16/nprobe=6
    // defaults on this corpus; floor leaves margin for testdata
    // regeneration, not for run-to-run noise.
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = recallVsBruteForce(
      Similarity.ivfTopK(e, nQueries = 16, k = 5), 16, 5)
    assert(r >= 0.75, s"IVF recall@5 = $r")
  }

  test("keyed codebook training equals m independent trainCentroidsFrame runs value-for-value") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr(Similarity.doubleVec("embedding")).as("v"))
    val keyed = Similarity.trainCodebooks(e, m = 4, sub = 16, ksub = 8, iters = 2)
    (0 until 4).foreach { s =>
      val sf = e.select(col("vec_id"), expr(s"slice(v, ${s * 16 + 1}, 16)").as("v"))
      val cf = Similarity.trainCentroidsFrame(sf, nlist = 8, iters = 2)
      val solo = cf.collect()
        .map(r => r.getAs[Long]("cell") -> r.getSeq[Double](1).toSeq).toMap
      cf.unpersist()
      (0 until 8).foreach { c =>
        assert(keyed(s)(c) === solo(c.toLong), s"subspace $s cell $c diverged")
      }
    }
  }

  test("IVF-PQ with full probes and corpus-wide rerank equals brute force exactly") {
    // the ADC shortlist is the only approximation beyond IVF probing:
    // probe every cell and let the rerank cover the corpus, and the
    // exact re-scoring stage must reproduce brute force bit-for-bit
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bf = Similarity.bruteForceTopK(e, nQueries = 4, k = 3)
      .select("q_id", "rn", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val pq = Similarity.ivfPqTopK(e, nQueries = 4, k = 3, nlist = 8, nprobe = 8,
      iters = 1, rerank = 100000)
      .select("q_id", "rn", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(pq == bf)
  }

  test("IVF-PQ recall@5 vs brute force meets a quantitative floor at default probes") {
    // Deterministic end to end (fixed bootstrap, bounded deterministic
    // Lloyd samples for coarse cells AND subspace codebooks, fixed
    // data): measured 0.95 at the nlist=16/nprobe=6/m=8/ksub=16/
    // rerank=64 defaults on this corpus (0.6125 at sf0.1's 5000
    // near-random vectors — PQ's worst case); floor leaves margin for
    // testdata regeneration, not run-to-run noise.
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = recallVsBruteForce(
      Similarity.ivfPqTopK(e, nQueries = 16, k = 5), 16, 5)
    assert(r >= 0.75, s"IVF-PQ recall@5 = $r")
  }

  test("LSH recall@5 vs brute force meets a quantitative floor") {
    // Deterministic (fixed plane seeds, fixed data): measured 0.8375
    // at the p=8/r=2/L=4 defaults on this corpus; floor leaves margin
    // for testdata regeneration, not for run-to-run noise.
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = recallVsBruteForce(
      Similarity.lshTopK(e, nQueries = 16, k = 5, nPlanes = 8), 16, 5)
    assert(r >= 0.6, s"LSH recall@5 = $r")
  }

  test("clustered embeddings: LSH and IVF recall@5 meet a 0.9 floor at the same defaults") {
    // The 0.6/0.75 floors above are calibrated on near-random vectors
    // (the ANN worst case); this pins the production-shaped claim in
    // Similarity.scala's recall notes with a measured number.
    val e = clusteredEmbeddings()
    val rLsh = recallOn(e, Similarity.lshTopK(e, nQueries = 16, k = 5), 16, 5)
    val rIvf = recallOn(e, Similarity.ivfTopK(e, nQueries = 16, k = 5), 16, 5)
    val rPq = recallOn(e,
      Similarity.ivfPqTopK(e, nQueries = 16, k = 5, dim = 32), 16, 5)
    assert(rLsh >= 0.9, s"clustered LSH recall@5 = $rLsh")
    assert(rIvf >= 0.9, s"clustered IVF recall@5 = $rIvf")
    assert(rPq >= 0.9, s"clustered IVF-PQ recall@5 = $rPq")
    info(s"clustered recall@5: LSH=$rLsh IVF=$rIvf IVF-PQ=$rPq")
  }

  test("bucketed near-dup join equals the exact all-pairs oracle, with no nested-loop join") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos"))
    val exact = Similarity.embeddingNearDuplicatesExact(e, threshold = 0.4).collect().map(key).toSet
    val bucketed = Similarity.embeddingNearDuplicates(e, threshold = 0.4)
    assert(bucketed.collect().map(key).toSet == exact)
    assert(exact.nonEmpty)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "near-dup join must stay bucketed")
  }

  test("semDedupCorpus keeps exactly the rows with no smaller-id neighbor at the threshold") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val kept = Similarity.semDedupCorpus(e, threshold = 0.4)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // independent reference: the exact all-pairs drop rule
    val dropped = Similarity.embeddingNearDuplicatesExact(e, threshold = 0.4)
      .select("id_b").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val all = e.select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(kept === all -- dropped)
    assert(dropped.nonEmpty && kept.nonEmpty, "fixture must exercise both sides")
    // every input column survives on the kept rows (corpus-op contract)
    assert(Similarity.semDedupCorpus(e, 0.4).columns.toSet === e.columns.toSet)
  }

  test("incremental embedding near-dups vs a persisted IVF index equal the exact cross-pair join") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val split = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("vec_id"), org.apache.spark.sql.functions.lit(5L))
    val corpus = e.filter(split < 4)
    val batch = e.filter(split === 4)
    // index round-trips through the table layer (array<double> columns)
    val wh = java.nio.file.Files.createTempDirectory("graft_ividx_spec_").toString
    val io = graft.io.TableIO(spark, wh)
    val (cents, assigned) = Similarity.embeddingIndex(corpus)
    io.overwrite(cents, "default.c")
    io.overwrite(assigned, "default.a")
    val got = Similarity.incrementalEmbeddingNearDups(
      batch, io.read("default.c"), io.read("default.a"), threshold = 0.4)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"), r.getAs[Double]("cos"))
    // exact oracle: all (batch, corpus) pairs at the threshold
    val bv = batch.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.expr(Similarity.doubleVec("embedding")).as("vb")).collect()
      .map(r => r.getAs[Long](0) -> r.getSeq[Double](1).toSeq)
    val cv = corpus.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.expr(Similarity.doubleVec("embedding")).as("vc")).collect()
      .map(r => r.getAs[Long](0) -> r.getSeq[Double](1).toSeq)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def d(x: Seq[Double], y: Seq[Double]) = x.zip(y).map { case (p, q) => p * q }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val expect = (for {
      (ib, vb) <- bv; (ic, vc) <- cv
      c = cos(vb, vc) if c >= 0.4
    } yield (ib, ic)).toSet
    val gotSet = got.collect().map(key).toSet
    got.unpersist()
    assert(gotSet.map(t => (t._1, t._2)) == expect,
      s"index path diverged from exact cross-pairs: got ${gotSet.size}, want ${expect.size}")
    assert(expect.nonEmpty, "fixture must produce at least one cross pair")
  }

  test("LSH bucket is identical for identical vectors, differs for opposite") {
    val df = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.0f, -2.0f, -3.0f))).toDF("vec_id", "embedding")
    val b = Similarity.withLshBucket(
      df.select($"vec_id", expr(Similarity.doubleVec("embedding")).as("v")), "v",
      nPlanes = 8, dim = 3
    ).select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // all plane signs flip
  }
}

class TableIOSpec extends SparkSpec {
  import spark.implicits._
  import graft.io.TableIO

  /** One file's column stats through the manifest codec: encode, then
    * decode from the JSON bytes.
    */
  private def manifestRoundTrip(st: Map[String, graft.io.FileStats.ColStats])
      : Map[String, graft.io.FileStats.ColStats] = {
    val doc = graft.io.Codec.Manifest(Seq("f"), Map.empty, Seq(graft.io.Codec.StatRecord.of(st)))
    graft.io.Codec.mapper.readValue(graft.io.Codec.encode(doc), classOf[graft.io.Codec.Manifest])
      .statsByFile.getOrElse("f", Map.empty)
  }

  test("FileStats compares DECIMAL stats in the decimal domain (scaled, not unscaled)") {
    import org.apache.spark.sql.sources._
    val dir = java.nio.file.Files.createTempDirectory("graft_fdec_").toString
    // DECIMAL(9,2) writes as physical INT32 with UNSCALED min/max in
    // the footer — a raw comparison against the scaled literal would
    // wrongly prove 1.23 outside [100, 500] (unscaled for 1.00..5.00)
    Seq("1.00", "1.23", "5.00").toDF("s")
      .selectExpr("CAST(s AS DECIMAL(9,2)) AS price")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d.parquet")
    val f = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".parquet")).filter(p => java.nio.file.Files.isRegularFile(p))
      .findFirst().get().toString
    val conf = spark.sessionState.newHadoopConf()
    val st = graft.io.FileStats.read(f, conf)
    val lit123 = new java.math.BigDecimal("1.23")
    assert(graft.io.FileStats.mightMatch(st, Seq(EqualTo("price", lit123))),
      "file containing 1.23 must not be pruned")
    assert(graft.io.FileStats.mightMatch(st, Seq(GreaterThan("price", new java.math.BigDecimal("4.99")))))
    assert(!graft.io.FileStats.mightMatch(st, Seq(GreaterThan("price", new java.math.BigDecimal("5.00")))),
      "max is exactly 5.00 — strictly-greater is provably empty")
    assert(!graft.io.FileStats.mightMatch(st, Seq(EqualTo("price", new java.math.BigDecimal("0.50")))))
    // manifest round-trip preserves the decimal domain (kind D)
    assert(graft.io.Codec.StatRecord.of(st("price")).exists(_.kind == "D"),
      s"decimal stats must persist: $st")
    val dec = manifestRoundTrip(st)
    assert(dec("price").min == new java.math.BigDecimal("1.00"), "scale survives")
    assert(graft.io.FileStats.mightMatch(dec, Seq(EqualTo("price", lit123))))
    assert(!graft.io.FileStats.mightMatch(dec, Seq(EqualTo("price", new java.math.BigDecimal("0.50")))))
  }

  test("FileStats bloom entries round-trip the manifest codec") {
    import org.apache.spark.sql.sources._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.0001)
    (0 until 50).foreach(i => bf.putString(i.toString)) // build-side canonical form
    val bytes = graft.functions.BloomContains.serialize(bf)
    val st = Map("k" -> graft.io.FileStats.ColStats(
      java.lang.Long.valueOf(0L), java.lang.Long.valueOf(99L), 0L, 50L, Some(bytes)))
    val dec = manifestRoundTrip(st)
    assert(dec("k").bloom.exists(_.sameElements(bytes)), "bloom must persist")
    // pruning semantics survive the round-trip: 7 present; 63 in the
    // [0, 99] range (so min/max keeps it) but NOT in the bloom
    assert(graft.io.FileStats.mightMatch(dec, Seq(EqualTo("k", 7L))))
    assert(!graft.io.FileStats.mightMatch(dec, Seq(EqualTo("k", 63L))),
      "range can't prune 63 — only the bloom can")
    // a non-canonical literal type is never bloom-pruned (conservative)
    assert(graft.io.FileStats.mightMatch(dec, Seq(EqualTo("k", 63.0d))))
  }

  test("typed manifest stats keep edge values exactly") {
    import graft.io.FileStats.ColStats
    val notUtf8 = Array[Byte](-1, -2, 0, -128, 65)
    val st = Map(
      "inf" -> ColStats(java.lang.Double.valueOf(Double.NegativeInfinity),
        java.lang.Double.valueOf(Double.PositiveInfinity), 0L, 2L),
      "zero" -> ColStats(java.lang.Double.valueOf(-0.0d), java.lang.Double.valueOf(0.0d), 0L, 2L),
      "long" -> ColStats(java.lang.Long.valueOf(Long.MinValue), java.lang.Long.valueOf(Long.MaxValue), 1L, 3L),
      "bin" -> ColStats(org.apache.parquet.io.api.Binary.fromConstantByteArray(Array[Byte](0)),
        org.apache.parquet.io.api.Binary.fromConstantByteArray(notUtf8), 0L, 2L))
    val dec = manifestRoundTrip(st)
    assert(dec("inf").min == java.lang.Double.valueOf(Double.NegativeInfinity))
    assert(dec("inf").max == java.lang.Double.valueOf(Double.PositiveInfinity))
    // Double.equals tells -0.0 from 0.0: the sign survives
    assert(dec("zero").min == java.lang.Double.valueOf(-0.0d))
    assert(dec("zero").max == java.lang.Double.valueOf(0.0d))
    assert(dec("long").min == java.lang.Long.valueOf(Long.MinValue))
    assert(dec("long").max == java.lang.Long.valueOf(Long.MaxValue))
    assert((dec("long").nullCount, dec("long").rowCount) == ((1L, 3L)))
    assert(dec("bin").max.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes.sameElements(notUtf8))
  }

  test("FileStats pruning is conservative: never prunes a file containing a matching row") {
    import org.apache.spark.sql.sources._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_").toString
    // three files with known contents, incl. nulls and strings
    Seq((1, Some(10.0), "apple"), (5, None, "banana")).toDF("k", "v", "s")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((100, Some(50.5), "pear"), (200, Some(60.5), "plum")).toDF("k", "v", "s")
      .coalesce(1).write.parquet(s"$dir/f2")
    Seq((Option.empty[Int], Option.empty[Double], Option.empty[String])).toDF("k", "v", "s")
      .coalesce(1).write.parquet(s"$dir/f3")
    val files = Seq("f1", "f2", "f3").map { d =>
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, d))
      try s.iterator().asScala.toSeq.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      finally s.close()
    }
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq(
      Seq((Some(1), Some(10.0), Some("apple")), (Some(5), None, Some("banana"))),
      Seq((Some(100), Some(50.5), Some("pear")), (Some(200), Some(60.5), Some("plum"))),
      Seq((Option.empty[Int], Option.empty[Double], Option.empty[String])))

    def actuallyMatches(fileIdx: Int, p: ((Option[Int], Option[Double], Option[String])) => Boolean) =
      rows(fileIdx).exists(p)

    val cases: Seq[(Filter, ((Option[Int], Option[Double], Option[String])) => Boolean)] = Seq(
      (EqualTo("k", 5), r => r._1.contains(5)),
      (EqualTo("k", 6), r => r._1.contains(6)),
      (EqualTo("k", 100), r => r._1.contains(100)),        // boundary: == min
      (EqualTo("k", 200), r => r._1.contains(200)),        // boundary: == max
      (EqualTo("s", "banana"), r => r._3.contains("banana")),
      (GreaterThan("k", 200), r => r._1.exists(_ > 200)),
      (GreaterThanOrEqual("k", 200), r => r._1.exists(_ >= 200)),
      (LessThan("k", 1), r => r._1.exists(_ < 1)),
      (LessThanOrEqual("k", 1), r => r._1.exists(_ <= 1)),
      (In("k", Array(6, 7, 100)), r => r._1.exists(Set(6, 7, 100))),
      (IsNull("v"), r => r._2.isEmpty),
      (IsNotNull("k"), r => r._1.nonEmpty),
      (And(GreaterThan("k", 4), LessThan("k", 99)), r => r._1.exists(x => x > 4 && x < 99)),
      (Or(EqualTo("k", 1), EqualTo("k", 200)), r => r._1.exists(Set(1, 200))),
      (GreaterThan("v", 55.0), r => r._2.exists(_ > 55.0))
    )
    files.zipWithIndex.foreach { case (f, i) =>
      val stats = graft.io.FileStats.read(f, conf)
      cases.foreach { case (filter, pred) =>
        val might = graft.io.FileStats.mightMatch(stats, Seq(filter))
        // conservative: a real match must never be pruned
        assert(!(actuallyMatches(i, pred) && !might),
          s"file $i pruned despite matching row for $filter")
      }
    }
    // and the pruning is actually useful: clear non-matches get pruned
    val s1 = graft.io.FileStats.read(files(0), conf)
    assert(!graft.io.FileStats.mightMatch(s1, Seq(EqualTo("k", 100))))
    assert(!graft.io.FileStats.mightMatch(s1, Seq(GreaterThan("k", 5))))
    val s2 = graft.io.FileStats.read(files(1), conf)
    assert(!graft.io.FileStats.mightMatch(s2, Seq(EqualTo("s", "banana"))))
  }

  test("FileStats string pruning uses unsigned UTF-8 byte order (supplementary chars)") {
    import org.apache.spark.sql.sources._
    import scala.jdk.CollectionConverters._
    // U+1F600 (emoji, a surrogate pair in UTF-16) vs U+E000: UTF-16
    // code-unit order says emoji < U+E000 (0xD83D < 0xE000) while the
    // unsigned UTF-8 byte order parquet computes stats in says the
    // opposite — a String.compareTo-based evaluator "proves" no match
    // and silently prunes the file
    val emoji = new String(Character.toChars(0x1F600))
    val fence = "\uE000"
    assert(emoji.compareTo(fence) < 0) // the UTF-16 trap this guards against
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_utf8_").toString
    Seq(Tuple1(emoji)).toDF("s").coalesce(1).write.parquet(s"$dir/f")
    val f = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "f"))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    val stats = graft.io.FileStats.read(f, spark.sessionState.newHadoopConf())
    // the file's only row ('😀') satisfies s > U+E000 in byte order:
    // pruning it would lose the row
    assert(graft.io.FileStats.mightMatch(stats, Seq(GreaterThan("s", fence))))
    assert(graft.io.FileStats.mightMatch(stats, Seq(GreaterThanOrEqual("s", fence))))
    assert(graft.io.FileStats.mightMatch(stats, Seq(EqualTo("s", emoji))))
    // and the correct order still prunes what provably cannot match
    assert(!graft.io.FileStats.mightMatch(stats, Seq(LessThan("s", fence))))
    assert(!graft.io.FileStats.mightMatch(stats, Seq(EqualTo("s", fence))))
  }

  test("deleteWhere/updateWhere are copy-on-write; prior snapshots keep the old rows") {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = java.nio.file.Files.createTempDirectory("graft_dml_").toString
    val io = TableIO(spark, wh)
    io.append(Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("k", "s", "v"), "default.t")

    io.updateWhere("default.t", col("k") === 2, Map("v" -> (col("v") * 10), "s" -> lit("B")))
    val afterUpdate = io.read("default.t").collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(afterUpdate == Map(1 -> (("a", 10.0)), 2 -> (("B", 200.0)), 3 -> (("c", 30.0))))

    io.deleteWhere("default.t", col("k") === 1)
    assert(io.read("default.t").select("k").as[Int].collect().toSet == Set(2, 3))

    // every mutation committed a snapshot; v1 still has the original rows
    assert(io.versions("default.t") == Seq(1, 2, 3))
    val v1 = io.readVersion("default.t", 1).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(v1 == Map(1 -> 10.0, 2 -> 20.0, 3 -> 30.0))

    // unknown assignment column fails fast
    intercept[IllegalArgumentException] {
      io.updateWhere("default.t", lit(true), Map("nope" -> lit(1)))
    }
  }

  test("append/overwrite/exists/list/drop roundtrip with partition pruning") {
    val wh = java.nio.file.Files.createTempDirectory("graft_test_wh_").toString
    val io = TableIO(spark, wh)
    assert(!io.tableExists("default.t1"))

    val df = Seq((1, "a", 2020), (2, "b", 2021)).toDF("id", "s", "yr")
    io.append(df, "default.t1", Seq("yr"))
    assert(io.tableExists("default.t1"))
    assert(io.read("default.t1").count() == 2)

    io.append(df.filter($"yr" === 2020), "default.t1", Seq("yr"))
    assert(io.read("default.t1").count() == 3)

    // partition pruning: only the yr=2020 directory is scanned
    val pruned = io.read("default.t1").filter($"yr" === 2021)
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("yr=2020") || plan.contains("PartitionFilters"))

    io.overwrite(df, "default.t1", Seq("yr"))
    assert(io.read("default.t1").count() == 2)

    assert(io.catalog.listTables() == Seq("default.t1"))
    io.catalog.dropTable("default.t1")
    assert(!io.tableExists("default.t1"))
  }

  test("snapshot time travel: every write commits a readable version") {
    val wh = java.nio.file.Files.createTempDirectory("graft_tt_wh_").toString
    val io = TableIO(spark, wh)
    val t = "default.versioned"

    io.append(Seq((1, "a"), (2, "b")).toDF("id", "s"), t)           // v1: 2 rows
    io.append(Seq((3, "c")).toDF("id", "s"), t)                     // v2: 3 rows
    io.overwrite(Seq((9, "z")).toDF("id", "s"), t)                  // v3: 1 row

    assert(io.versions(t) == Seq(1, 2, 3))
    assert(io.read(t).count() == 1)                                 // current = v3
    assert(io.readVersion(t, 1).count() == 2)
    assert(io.readVersion(t, 2).count() == 3)
    // the reference's README verification shape: current vs VERSION AS OF
    // counts via UNION ALL (reference: README.md:143-154)
    val cmp = io.read(t).selectExpr("'current' src", "id")
      .unionAll(io.readVersion(t, 2).selectExpr("'v2' src", "id"))
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cmp == Map("current" -> 1L, "v2" -> 3L))
    // overwrite is logical: v2's files still on disk, only manifests differ
    assert(io.catalog.manifest(t, 3).toSet.subsetOf(io.catalog.listDataFiles(t).toSet))
  }

  test("overwritePartition swaps only the touched partition; untouched files carry over byte-identical") {
    val wh = java.nio.file.Files.createTempDirectory("graft_po_wh_").toString
    val io = TableIO(spark, wh)
    val t = "default.daily"

    io.append(Seq((1, "a", 2020), (2, "b", 2021)).toDF("id", "s", "yr"), t, Seq("yr"))
    val v1Files = io.catalog.manifest(t, 1)
    val keep2021 = v1Files.filter(_.contains("yr=2021"))
    val bytes2021 = keep2021.map(f => f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq).toMap

    // rebuild ONLY the 2020 partition
    io.overwritePartition(Seq((10, "a2", 2020), (11, "a3", 2020)).toDF("id", "s", "yr"), t, Seq("yr"))

    val v2Files = io.catalog.manifest(t, 2)
    // untouched partition: same file paths, same bytes
    assert(v2Files.filter(_.contains("yr=2021")) == keep2021)
    keep2021.foreach { f =>
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq == bytes2021(f))
    }
    // touched partition fully replaced
    assert(v2Files.filter(_.contains("yr=2020")).forall(f => !v1Files.contains(f)))
    val cur = io.read(t).select("id", "yr").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(cur == Set((10, 2020), (11, 2020), (2, 2021)))
    // old snapshot still readable in full
    assert(io.readVersion(t, 1).select("id").as[Int].collect().toSet == Set(1, 2))
  }

  test("expireSnapshots + removeOrphanFiles reclaim only dead files; current reads unaffected") {
    val wh = java.nio.file.Files.createTempDirectory("graft_gc_wh_").toString
    val io = TableIO(spark, wh)
    val t = "default.gc"

    io.append(Seq((1, "a")).toDF("id", "s"), t)       // v1
    io.overwrite(Seq((2, "b")).toDF("id", "s"), t)    // v2: v1 files now dead
    io.append(Seq((3, "c")).toDF("id", "s"), t)       // v3
    val v1Only = io.catalog.manifest(t, 1)
    val liveFiles = io.catalog.manifest(t, 3)

    assert(io.catalog.expireSnapshots(t, keepLast = 2) == Seq(1))
    // young orphans survive the default age guard (commit-in-flight
    // protection); an explicit past-everything bound reclaims them
    assert(io.catalog.removeOrphanFiles(t).isEmpty,
      "default older-than must keep just-written orphans")
    val removed = io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
    assert(removed.toSet == v1Only.toSet, "exactly the v1-only files are orphans")
    liveFiles.foreach(f => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    assert(io.versions(t) == Seq(2, 3))
    assert(io.read(t).select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("compact rewrites many small files into one per partition, preserving rows and history") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cp_wh_").toString
    val io = TableIO(spark, wh)
    val t = "default.smallfiles"
    (1 to 3).foreach { i =>
      io.append(Seq((i, s"r$i", 2020), (i + 10, s"s$i", 2021)).toDF("id", "s", "yr"), t, Seq("yr"))
    }
    val beforeRows = io.read(t).select("id").as[Int].collect().toSet
    assert(io.catalog.manifest(t, 3).size >= 6) // >= one file per append per partition

    io.compact(t, Seq("yr"))

    val m = io.catalog.manifest(t, 4)
    assert(m.count(_.contains("yr=2020")) == 1 && m.count(_.contains("yr=2021")) == 1)
    assert(io.read(t).select("id").as[Int].collect().toSet == beforeRows)
    assert(io.readVersion(t, 3).count() == 6) // pre-compaction snapshot intact
    // expire + orphan-delete reclaims the small files
    io.catalog.expireSnapshots(t, keepLast = 1)
    assert(io.catalog.removeOrphanFiles(t, olderThanMs = -1000).nonEmpty)
    assert(io.read(t).select("id").as[Int].collect().toSet == beforeRows)

    // an overwrite that drops yr=2020 entirely + expire + GC must also
    // reclaim the now-empty partition DIRECTORY, not just its files
    io.overwrite(Seq((99, "z", 2021)).toDF("id", "s", "yr"), t, Seq("yr"))
    io.catalog.expireSnapshots(t, keepLast = 1)
    io.catalog.removeOrphanFiles(t, olderThanMs = -1000)
    val dataRoot = java.nio.file.Paths.get(io.catalog.dataPath(t))
    val emptyDirs = scala.util.Using.resource(java.nio.file.Files.walk(dataRoot)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.filter { p =>
        java.nio.file.Files.isDirectory(p) && p != dataRoot &&
          scala.util.Using.resource(java.nio.file.Files.list(p))(!_.iterator().hasNext)
      }
    }
    assert(emptyDirs.isEmpty, s"empty partition dirs left behind: $emptyDirs")
    assert(!java.nio.file.Files.exists(dataRoot.resolve("yr=2020")))
    assert(io.read(t).select("id").as[Int].collect().toSet == Set(99))
  }

  test("manifest round-trips hostile file paths and drifted schemas merge on read-back") {
    // hostile-path round-trip straight through the catalog layer
    val wh = java.nio.file.Files.createTempDirectory("graft_esc_wh_").toString
    val cat = graft.io.TableCatalog(wh)
    val nasty = Seq("""/tmp/a "quoted", comma.parquet""", "/tmp/back\\slash\tand\ncontrol.parquet")
    cat.commitSnapshot("default.esc", nasty)
    assert(cat.manifest("default.esc", 1) == nasty)

    // schema drift: an appended file adds a column; read-back keeps it
    val io = TableIO(spark, wh)
    val t = "default.drift"
    io.append(Seq((1, "a")).toDF("id", "s"), t)
    io.append(Seq((2, "b", 7.5)).toDF("id", "s", "score"), t)
    val back = io.read(t)
    assert(back.columns.toSet == Set("id", "s", "score"))
    val byId = back.collect().map(r => r.getAs[Int]("id") -> r.getAs[Any]("score")).toMap
    assert(byId(2) == 7.5 && byId(1) == null)
    // time travel too: the drifted column survives snapshot reads
    assert(io.readVersion(t, 2).columns.contains("score"))
  }
}
