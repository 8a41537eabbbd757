package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.queries.QueryDef

/** Correctness dump: each selected query's result → parquet under
  * `<outDir>/<name>`, plus `oracle_sql.json` with the oracles of the
  * same queries, for the DuckDB compare (`tools/oracle_check.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>; `SPARK_GRAFT_ONLY`
  * selects a subset ([[Suite.select]]). A query's result directory is
  * deleted before it runs, so a query that fails leaves no result behind
  * and the compare reports it missing instead of matching an earlier
  * run's output.
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
    val selected = Suite.only()
    // the runner applies each query's conf overlay here too, so the
    // oracle gate checks the exact configuration the bench runs
    selected.foreach { case QueryDef(name, fn, _) =>
      val out = new Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      Suite.run(spark, sfDir, name, fn) {
        _.coalesce(1).write.mode("overwrite").parquet(out.toString)
      }.left.foreach { e =>
        // class name too: ParseException and friends can have a null/empty
        // message, which made a real failure look blank in the round log
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    import Suite.json
    val jsonText = selected
      .map(d => s"${json(d.name)}: ${json(d.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonText)
    spark.stop()
  }
}
