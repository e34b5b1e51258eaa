package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * SPARK_GRAFT_ONLY=a,b,c dumps only those queries (see Harness.select). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val keep = Harness.select(SparkEntry.queries.keySet)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def json(m: Map[String, String]): String = m.filter(e => keep(e._1))
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    // structural gates for the rows-kind queries: DuckDB SQL over the
    // dump (view `result`) + sf tables, zero returned rows = pass
    Files.writeString(Paths.get(s"$outDir/rows_checks.json"), json(SparkEntry.rowsChecks))
    spark.stop()
  }
}
