package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.Suite
import graft.queries.QueryDef

/** Dump `.explain("formatted")` for named registered queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  * Each plan is built as Bench builds it, under the session conf.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> [q1,q2,...]
  * (no query list → every registered query). Each query writes
  * `<outDir>/<name>_<suffix>.txt`. Queries whose construction RUNS work
  * (the streaming sink-readback family) still only pay plan-build cost
  * here; the dumped plan is the batch read-back plan for those, which
  * is the part a plan diff can meaningfully show.
  * Env: as [[graft.Suite]] (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExplainDump <outDir> <suffix> [q1,q2,...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val queries = Suite.select(args.lift(2), "ExplainDump")
    val spark = Suite.session()
    queries.foreach { case QueryDef(name, fn, _) =>
      val txt = Suite.run(spark, Suite.sfDir, fn) {
        _.queryExecution.explainString(FormattedMode)
      }.fold(e => s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}",
        identity)
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
