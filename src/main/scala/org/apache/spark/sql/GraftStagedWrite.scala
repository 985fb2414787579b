package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, PartitioningUtils, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileBatchWrite
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The table layer's one parquet writer.
  *
  * Every write lands in a directory the caller owns privately (a
  * table's `.stage-` dir, a stream's fresh stage dir) through
  * [[StagedCommitProtocol]]: each task attempt writes its files under
  * attempt-unique names straight into that directory and reports their
  * relative names in its commit message; the driver collects the
  * messages of the accepted attempts and returns exactly those names.
  * No `_temporary` tree, no job-commit rename, no `_SUCCESS` file, no
  * listing: the caller publishes the named files and sweeps the
  * directory, so a failed or speculative attempt's files (never named
  * in an accepted message) go with the sweep. Encoding is Spark's own
  * parquet `OutputWriter`, zstd-compressed. Lives in
  * `org.apache.spark.sql` for the `private[sql]` file-writer classes.
  */
object GraftStagedWrite {
  // zstd over the default snappy: markedly better ratio at similar read
  // speed, the right trade at 100 TB scan volume. It saves nothing on
  // small writes: an 83-partition write of sf0.01 lineitem costs ~1-4 ms
  // MORE per file in zstd than in snappy (4-core VM)
  private val Options = Map("compression" -> "zstd")

  /** Write `df` into `dir` laid out by `partitionCols` (Hive
    * `col=value` subdirectories); returns the written files' paths
    * relative to `dir`, sorted. Runs as one named SQL execution, so
    * query-execution listeners see it like any other action.
    */
  def write(df: DataFrame, dir: String, partitionCols: Seq[String]): Seq[String] = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val conf = spark.sessionState.conf
    PartitioningUtils.validatePartitionColumn(df.schema, partitionCols, conf.caseSensitiveAnalysis)
    val protocol = new StagedCommitProtocol(dir)
    SQLExecution.withNewExecutionId(qe, Some("graftStagedWrite")) {
      val plan = qe.executedPlan
      val parts = partitionCols.map(c => plan.output.find(a => conf.resolver(a.name, c)).get)
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, protocol,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(), parts, None, Nil, Options)
    }
    protocol.committed
  }

  /** A DSv2 batch write of `schema`-shaped rows into `dir` over the
    * same protocol (unpartitioned), with that protocol: after the
    * write's `commit`, its `committed` names the written files.
    */
  def batch(schema: StructType, dir: String): (FileBatchWrite, StagedCommitProtocol) = {
    val spark = SparkSession.active
    val hadoopConf = spark.sessionState.newHadoopConf()
    val job = Job.getInstance(hadoopConf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Options, schema)
    val columns = toAttributes(schema)
    val description = new WriteJobDescription(
      java.util.UUID.randomUUID().toString, new SerializableConfiguration(job.getConfiguration),
      factory, columns, columns, Nil, None, dir, Map.empty,
      spark.sessionState.conf.maxRecordsPerFile, spark.sessionState.conf.sessionLocalTimeZone, Nil)
    val protocol = new StagedCommitProtocol(dir)
    (new FileBatchWrite(job, description, protocol), protocol)
  }
}

/** Commit protocol of [[GraftStagedWrite]]: tasks write final files
  * under `dir` with a per-attempt UUID in every name and return their
  * relative names; the job commit only collects them.
  */
class StagedCommitProtocol(dir: String) extends FileCommitProtocol with Serializable {
  @transient private var attempt: String = _
  @transient private var written: collection.mutable.ArrayBuffer[String] = _
  @transient @volatile private var accepted: Seq[String] = Nil

  /** Files named by the accepted attempts, after `commitJob`. */
  def committed: Seq[String] = accepted

  override def setupJob(jobContext: JobContext): Unit = ()
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    accepted = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]]).sorted
  // the caller sweeps the directory: nothing to undo here
  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    attempt = java.util.UUID.randomUUID().toString
    written = collection.mutable.ArrayBuffer.empty
  }
  override def newTaskTempFile(taskContext: TaskAttemptContext, subdir: Option[String],
                               spec: FileNameSpec): String = {
    val split = taskContext.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-$attempt${spec.suffix}"
    val rel = subdir.fold(name)(d => s"$d/$name")
    written += rel
    new Path(dir, rel).toString
  }
  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(written.toSeq)
  // a failed attempt's files are never named: the caller's sweep takes them
  override def abortTask(taskContext: TaskAttemptContext): Unit = ()
}
