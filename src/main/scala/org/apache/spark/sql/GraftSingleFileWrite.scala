package org.apache.spark.sql

import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.util.SerializableConfiguration

/** Task-level single-file parquet write — the sub-shard commit fast
  * path (r21 verdict item 3, guide §7.3 driver-gap class).
  *
  * `df.write.parquet(dir)` on a ONE-partition micro-batch still pays
  * the whole Hadoop commit protocol: committer setup (`_temporary`
  * tree), a task-attempt directory, task commit rename, job commit
  * listing + rename, `_SUCCESS` — a fixed floor per commit that
  * dominates small CDC / streaming batches. A one-row
  * `TableIO.append` through it, manifest commit included (perfbench
  * `floor.one_file_commit_ms`, 4-core VM), measured 91–99 ms with
  * permissions set in-process (graft.io.NoForkLocalFileSystem) and
  * 108–184 ms while every file, `.crc` and directory forked `chmod`.
  * This helper
  * runs ONE executor task that opens Spark's own parquet
  * `OutputWriter` (same `ParquetWriteSupport` encoding as every normal
  * write — decimals, timestamps, field IDs all identical) directly at
  * the final file path inside the caller's private staging/output
  * directory. Atomicity and visibility stay the CALLER's contract
  * exactly as before: nothing is live until the manifest commit
  * references the file.
  *
  * Retry/speculation safety: each task attempt writes its own
  * dot-prefixed in-progress file (invisible to every lister, named
  * with the attempt number) and renames it to the ONE visible name
  * only on success, so a failed attempt can never leak a partial file
  * into the caller's directory listing. The publish is
  * rename-if-absent: a retried attempt that finds the visible file
  * already there (an earlier attempt completed it and died after the
  * atomic rename) drops its own copy and succeeds — the same rows,
  * published once. The caller-side guard refuses the fast path when
  * speculation is on (two attempts running at once could otherwise
  * both pass the absence check). Lives in
  * `org.apache.spark.sql` for access to the `private[sql]` parquet
  * writer factory — public Spark source, no behavior forked.
  */
object GraftSingleFileWrite {
  /** True when the session is safe for the single-task fast path:
    * speculative execution would allow two attempts of one task to
    * both succeed and publish.
    */
  def sessionSafe(spark: SparkSession): Boolean =
    !spark.sparkContext.getConf.getBoolean("spark.speculation", defaultValue = false)

  /** Write `df` (expected tiny — callers gate on the shard bound) as
    * ONE parquet file inside `dir`, in one task, bypassing the commit
    * protocol. Returns the written file's fully qualified path.
    * `compression` None = the session's parquet codec (what
    * `df.write.parquet` with no option uses).
    */
  def writeOneFile(df: DataFrame, dir: String, compression: Option[String]): String = {
    val spark = df.sparkSession
    val schema = df.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(
      spark.sessionState.conf, job, schema,
      new ParquetOptions(compression.map("compression" -> _).toMap, spark.sessionState.conf))
    val ext = {
      // getFileExtension needs a TaskAttemptContext only for the codec
      // already resolved into the job conf by prepareWrite
      val probe = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
      factory.getFileExtension(probe)
    }
    val confS = new SerializableConfiguration(job.getConfiguration)
    val uuid = java.util.UUID.randomUUID().toString
    val fileName = s"part-00000-$uuid$ext"
    val rdd0 = df.queryExecution.toRdd
    val rdd =
      if (rdd0.getNumPartitions == 0)
        // empty frame: still publish a (0-row, schema-bearing) file —
        // same observable outcome as the committed write path
        spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
      else if (rdd0.getNumPartitions == 1) rdd0
      else rdd0.coalesce(1)
    rdd.foreachPartition { it =>
      val tc = org.apache.spark.TaskContext.get()
      val attempt = if (tc == null) 0 else tc.attemptNumber()
      val conf = confS.value
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      val tmp = new org.apache.hadoop.fs.Path(dir, s".inprogress-$uuid-a$attempt")
      val tac = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), attempt))
      val w = factory.newInstance(tmp.toString, schema, tac)
      var ok = false
      try {
        while (it.hasNext) w.write(it.next())
        ok = true
      } finally {
        try w.close()
        finally if (!ok) { fs.delete(tmp, false); () }
      }
      publishIfAbsent(fs, tmp, new org.apache.hadoop.fs.Path(dir, fileName))
    }
    val out = new org.apache.hadoop.fs.Path(dir, fileName)
    out.getFileSystem(job.getConfiguration).makeQualified(out).toString
  }

  /** Rename a finished attempt's `tmp` file to `target` unless an
    * earlier attempt of the same task already published it — then the
    * earlier (complete, atomically renamed) file stands and `tmp` goes.
    */
  private def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                              tmp: org.apache.hadoop.fs.Path,
                              target: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      if (!fs.exists(target))
        throw new java.io.IOException(s"single-file write: rename of $tmp to $target failed")
      fs.delete(tmp, false)
      ()
    }
}
