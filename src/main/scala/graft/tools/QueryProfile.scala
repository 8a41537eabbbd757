package graft.tools

import graft.Suite
import graft.queries.QueryDef

/** Per-query breakdown profiler for optimization rounds: runs named
  * registered queries as Bench does (noop sink, one warm pass, then N
  * timed passes) with [[Suite.TaskListener]] attributing
  * each pass to Spark jobs/stages/tasks, so "where does this query's
  * 3 s go" is answered with counts instead of guesses. A failed pass is
  * reported and the remaining passes and names still run.
  *
  * Usage: runMain graft.tools.QueryProfile q1[,q2,...] [timedPasses]
  * Env: as [[graft.Suite]] (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile q1[,q2,...] [timedPasses]")
    val queries = Suite.select(Some(args(0)), "QueryProfile")
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = Suite.sfDir
    val spark = Suite.session()
    val listener = new Suite.TaskListener
    spark.sparkContext.addSparkListener(listener)
    def failure(e: Throwable) = s"FAILED: ${e.getClass.getName}: ${e.getMessage}"

    queries.foreach { case QueryDef(name, fn, _) =>
      // warm pass (codegen + JIT), untimed
      Suite.run(spark, sfDir, fn)(Suite.noop).left
        .foreach(e => println(s"$name WARM ${failure(e)}"))
      val samples = (1 to passes).flatMap { p =>
        System.gc()
        val base = listener.settled()
        listener.takeJobs()
        val t0 = System.nanoTime()
        val result = Suite.run(spark, sfDir, fn)(Suite.noop)
        val sec = (System.nanoTime() - t0) / 1e9
        val d = listener.settled() - base
        val counts = f"jobs=${d.jobs}%3d stages=${d.stages}%3d " +
          f"tasks=${d.tasks}%5d taskTime=${d.runMs / 1000.0}%8.2f s " +
          f"read=${d.bytesRead / 1e6}%.1f MB"
        result match {
          case Right(_) => println(f"$name pass $p: $sec%7.3f s  $counts")
          case Left(e) => println(s"$name pass $p ${failure(e)}  $counts")
        }
        listener.takeJobs().sortBy(_._1).foreach { case (id, ms) =>
          println(f"    job $id%4d  $ms%8d ms")
        }
        result.toOption.map(_ => sec)
      }
      if (samples.nonEmpty) println(f"$name MIN: ${samples.min}%7.3f s")
      else println(s"$name MIN: no successful pass")
    }
    spark.stop()
  }
}
