package graft

import java.nio.file.Files

/** The bench's per-run layer split: jobs, planning phases and `Timers`
  * labels land on the run that caused them, and only on that run.
  */
class LayerRecorderSpec extends SparkSpec {
  import spark.implicits._

  test("each run's split covers its own jobs, phases and table-layer timers, none of another run's") {
    val io = graft.io.TableIO(spark, Files.createTempDirectory("graft_layers_").toString)
    val frame = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    def appendAndCount(t: String): Long = { io.append(frame, t); io.read(t).count() }

    val rec = new LayerRecorder(spark)
    assert(rec.record("first")(appendAndCount("default.first")) == 3L)
    assert(rec.record("second")(appendAndCount("default.second")) == 3L)
    val Seq(first, second) = rec.finish()

    for (r <- Seq(first, second)) {
      assert(r.jobIds.nonEmpty, r)
      assert(r.jobS <= r.wallS, r)
      assert(r.gapS == r.wallS - r.jobS && r.gapS >= 0.0, r)
      assert(Set("analysis", "optimization", "planning").subsetOf(r.phaseMs.keySet), r.phaseMs)
      val writes = r.timers.filter(_._1.startsWith("stageWrite."))
      assert(writes.nonEmpty && writes.values.forall(_._2 >= 1), r.timers)
      assert(r.timers.get("commit.manifestJson").exists(_._2 >= 1), r.timers)
      assert(r.json.startsWith("{\"wall_s\":"), r.json)
    }
    assert(first.label == "first" && second.label == "second")
    assert(first.jobIds.intersect(second.jobIds).isEmpty, (first.jobIds, second.jobIds))
    // the same work twice: per-run deltas, not a running total
    for (label <- first.timers.keySet.filter(l => l.startsWith("stageWrite.") || l == "commit.manifestJson"))
      assert(second.timers.get(label).map(_._2) == first.timers.get(label).map(_._2),
        (label, first.timers, second.timers))
  }
}
