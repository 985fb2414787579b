package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    def wanted(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = SessionFactory.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => wanted(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in the oracle SQL would
    // otherwise fail the compare's json.load and zero the correctness
    val json = SparkEntry.oracleSql.filter(e => wanted(e._1))
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
