package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>; `SPARK_GRAFT_ONLY`
  * selects a subset ([[Suite.select]]).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Periodic GC so ContextCleaner keeps up across the whole query
    // suite (nothing here is timed, so the full-GC pauses are free);
    // Bench instead GCs between queries to keep pauses out of timed
    // slots.
    val spark = Suite.session("spark.cleaner.periodicGC.interval" -> "60s")
    new java.io.File(outDir).mkdirs()
    // the runner applies each query's conf overlay here too, so the
    // oracle gate checks the exact configuration the bench runs
    Suite.only().foreach { case (name, fn) =>
      Suite.run(spark, sfDir, name, fn) {
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.left.foreach { e =>
        // class name too: ParseException and friends can have a null/empty
        // message, which made a real failure look blank in the round log
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    import Suite.json
    val jsonText = SparkEntry.oracleSql
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonText)
    spark.stop()
  }
}
