package graft

/** Interleaved same-JVM A/B for a runtime conf knob (guide §1 + the
  * r21 bench-notes lesson: this box's ambient swings ±40% within
  * hours, so cross-pass comparisons are noise — the only trustworthy
  * A/B alternates the two settings run-by-run inside ONE pass and
  * compares medians).
  *
  *   SPARK_GRAFT_AB_KEY=spark.graft.scatter.targetPartitionBytes \
  *   SPARK_GRAFT_AB_A=1 SPARK_GRAFT_AB_B=65536 \
  *   sbt "runMain graft.AB q99_span_dedup_corpus q74_winnow_pairs"
  *
  * A/B values are set through spark.conf (runtime), so the knob under
  * test must be read per-call from the session conf. Session, warm-up
  * and cold-cache timed runs are Bench's own.
  */
object AB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "5").toInt.max(1)
    val key = sys.env.getOrElse("SPARK_GRAFT_AB_KEY", "spark.graft.scatter.targetPartitionBytes")
    val aVal = sys.env.getOrElse("SPARK_GRAFT_AB_A", "1")
    val bVal = sys.env.getOrElse("SPARK_GRAFT_AB_B", "65536")
    val spark = SessionFactory.build("graft-ab")
    Bench.warmUp(spark)
    def timeOnce(name: String): Option[Double] =
      Bench.timeOnce(spark, sfDir, SparkEntry.queries(name)).map(_._1)
    import Bench.median

    val names = if (args.nonEmpty) args.toSeq else Seq("q99_span_dedup_corpus")
    names.foreach { name =>
      // one warm run per setting (codegen caches differ per plan shape)
      spark.conf.set(key, aVal); timeOnce(name)
      spark.conf.set(key, bVal); timeOnce(name)
      val as = scala.collection.mutable.ArrayBuffer.empty[Double]
      val bs = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach { _ =>
        spark.conf.set(key, aVal); timeOnce(name).foreach(as += _)
        spark.conf.set(key, bVal); timeOnce(name).foreach(bs += _)
      }
      def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      println(f"[ab] $name%-28s $key A=$aVal B=$bVal  " +
        f"medA=${median(as.toSeq)}%.3f medB=${median(bs.toSeq)}%.3f  " +
        f"B/A=${median(bs.toSeq) / median(as.toSeq)}%.3f  runsA=${fmt(as.toSeq)} runsB=${fmt(bs.toSeq)}")
    }
    spark.stop()
  }
}
