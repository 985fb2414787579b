package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.spark.SparkException
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, SchemaUtils}

import graft.io.FileStats

import scala.jdk.CollectionConverters._

/** Parquet scan of a file list the caller already knows — a table
  * manifest — without a listing job, and the driver-side footer merge
  * every undeclared-schema scan of the table layer and of `Tables`
  * infers its schema with.
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
  * `userSchema` minus partition columns or else [[inferSchema]], the
  * same duplicate-name and type checks. The plan still scans an
  * `InMemoryFileIndex(N paths)`. Lives in `org.apache.spark.sql` for the
  * `private[sql]` schema helpers and error builders.
  */
object GraftManifestScan extends Logging {
  def parquet(spark: SparkSession, files: Seq[String], options: Map[String, String],
              userSchema: Option[StructType]): DataFrame = {
    val statuses = stat(spark, files, options)
    relation(spark, new InMemoryFileIndex(spark, statuses.map(_.getPath), options, userSchema,
      new KnownFiles(statuses)), options, userSchema)
  }

  /** `spark.read.options(options).parquet(path)` with its schema from
    * [[inferSchema]]: the path is globbed and checked as
    * `DataSource.resolveRelation` does it (a missing path fails with
    * `PATH_NOT_FOUND`), listed once by an `InMemoryFileIndex` over the
    * session's file status cache, and that one listing serves both the
    * footer merge and the scan.
    */
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path),
      spark.sessionState.newHadoopConfWithOptions(options),
      checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = CaseInsensitiveMap(options).get(DataSource.GLOB_PATHS_KEY).forall(_ == "true"))
    relation(spark, new InMemoryFileIndex(spark, roots, options, None,
      FileStatusCache.getOrCreate(spark)), options, None)
  }

  /** The relation `DataSource.resolveRelation` builds over `index`:
    * partitions discovered by the index, the data schema from
    * `userSchema` minus partition columns or else [[inferSchema]], the
    * same duplicate-name and type checks.
    */
  private def relation(spark: SparkSession, index: InMemoryFileIndex, options: Map[String, String],
                       userSchema: Option[StructType]): DataFrame = {
    val format = new ParquetFileFormat
    val equality = spark.sessionState.conf.resolver
    val partitionSchema = index.partitionSchema
    val dataSchema = userSchema
      .map(s => StructType(s.filterNot(f => partitionSchema.exists(p => equality(p.name, f.name)))))
      .orElse(inferSchema(spark, options, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(format.toString))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable,
      bucketSpec = None, format, CaseInsensitiveMap(options))(spark)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, equality)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, equality)
    DataSourceUtils.verifySchema(format, relation.dataSchema)
    spark.baseRelationToDataFrame(relation)
  }

  /** The DSv2 parquet table over a file list the caller already knows
    * — the SQL surface's scan of a manifest. Like [[parquet]], the
    * files are stat'ed once on the driver and seed the table's index,
    * so it never lists; without `userSchema` the table is handed
    * [[inferSchema]]'s merge as its schema, so it never infers either.
    */
  def table(name: String, spark: SparkSession, options: Map[String, String], files: Seq[String],
            userSchema: Option[StructType]): ParquetTable = {
    val statuses = stat(spark, files, options)
    val readSchema = userSchema.orElse(inferSchema(spark, options, statuses))
    val caseSensitiveOptions = options
    new ParquetTable(name, spark, new CaseInsensitiveStringMap(options.asJava), files, readSchema,
        classOf[ParquetFileFormat]) {
      // members shadow the arguments here: `options` and `schema` are the table's
      override lazy val fileIndex: PartitioningAwareFileIndex =
        new InMemoryFileIndex(spark, statuses.map(_.getPath), caseSensitiveOptions, readSchema,
          new KnownFiles(statuses))
    }
  }

  /** `ParquetUtils.inferSchema` without its Spark job: the same footers
    * (with `mergeSchema`, every data file in path order and then the
    * `_metadata` and `_common_metadata` summaries, or only the summaries
    * under `respectSummaryFiles`; without it, one summary or else the
    * first data file), each read on the driver in a parallel stream
    * and converted the way `ParquetFileFormat.mergeSchemasInParallel`
    * converts it, folded left with `StructType.merge`. An unreadable
    * footer is skipped under `ignoreCorruptFiles` and fails the scan
    * otherwise; a type conflict fails with `CANNOT_MERGE_SCHEMAS`.
    * The driver opens every footer it merges: the cost grows with the
    * file count (well under a millisecond per local footer).
    */
  private def inferSchema(spark: SparkSession, options: Map[String, String],
                          files: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.filter(_.getPath.getName == name)
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val data = sorted.diff(metadata ++ common)
    val toTouch =
      if (new ParquetOptions(options, sqlConf).mergeSchema)
        (if (sqlConf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val ignoreCorrupt = new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
    val footers = toTouch.asJava.parallelStream()
      .map[Option[Footer]](f => footerOf(f, conf, ignoreCorrupt))
      .collect(java.util.stream.Collectors.toList[Option[Footer]])
      .asScala.toSeq.flatten
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val caseSensitive = sqlConf.caseSensitiveAnalysis
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).reduceLeftOption { (merged, s) =>
      try merged.merge(s, caseSensitive)
      catch { case cause: SparkException =>
        throw QueryExecutionErrors.failedMergingSchemaError(merged, s, cause) }
    }
  }

  private def footerOf(f: FileStatus, conf: Configuration, ignoreCorrupt: Boolean): Option[Footer] =
    try Some(FileStats.schemaFooter(f, conf))
    catch { case e: RuntimeException =>
      if (!ignoreCorrupt) throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      logWarning(s"Skipped the footer in the corrupted file: ${f.getPath}", e)
      None
    }

  /** Driver-side `getFileStatus` of each file, in a parallel stream. */
  private def stat(spark: SparkSession, files: Seq[String],
                   options: Map[String, String]): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    files.asJava.parallelStream()
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
