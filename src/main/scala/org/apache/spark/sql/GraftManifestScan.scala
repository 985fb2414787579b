package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

import scala.jdk.CollectionConverters._

/** Parquet scan of a file list the caller already knows — a table
  * manifest — without a listing job.
  *
  * `spark.read.parquet(files: _*)` hands the files to an
  * `InMemoryFileIndex` that lists them again; above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths)
  * that listing is a Spark job with one task per file. Here the files
  * are stat'ed on the driver in a parallel stream (one `getFileStatus`
  * each, like the commit-time footer reads) and the index is seeded
  * through a [[FileStatusCache]] holding one status per file, so it
  * never lists. The relation is then built the way
  * `DataSource.resolveRelation` builds it for a file list: partition
  * discovery from the options (`basePath`), the data schema from
  * `userSchema` minus partition columns or else inferred by the
  * format, the same duplicate-name and type checks. The plan still
  * scans an `InMemoryFileIndex(N paths)`. Lives in `org.apache.spark.sql`
  * for the `private[sql]` schema helpers and error builders.
  */
object GraftManifestScan {
  def parquet(spark: SparkSession, files: Seq[String], options: Map[String, String],
              userSchema: Option[StructType]): DataFrame = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val statuses = files.asJava.parallelStream()
      .map[FileStatus] { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        // a plain status: the local FS's own status class forks `ls`
        // when anything asks it for permissions
        new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getPath)
      }
      .collect(java.util.stream.Collectors.toList[FileStatus])
      .asScala.toSeq
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), options, userSchema,
      new KnownFiles(statuses))
    val format = new ParquetFileFormat
    val equality = spark.sessionState.conf.resolver
    val partitionSchema = index.partitionSchema
    val dataSchema = userSchema
      .map(s => StructType(s.filterNot(f => partitionSchema.exists(p => equality(p.name, f.name)))))
      .orElse(format.inferSchema(spark, options, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(format.toString))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable,
      bucketSpec = None, format, CaseInsensitiveMap(options))(spark)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, equality)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, equality)
    DataSourceUtils.verifySchema(format, relation.dataSchema)
    spark.baseRelationToDataFrame(relation)
  }

  /** Leaf-file cache answering each root path with its own status.
    * An invalidation (REFRESH) empties it, so a refreshed index lists
    * for real.
    */
  private final class KnownFiles(statuses: Seq[FileStatus]) extends FileStatusCache {
    @volatile private var byPath: Map[Path, Array[FileStatus]] =
      statuses.map(s => s.getPath -> Array(s)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = byPath = Map.empty
  }
}
