package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.streaming.StreamRunner
import graft.streaming.StreamRunner.Update

/** [[StreamRunner]]'s own contract, apart from the registered queries
  * that run through it: its conf scopes survive a failing stream, and
  * update-mode read-back keeps each key's last update across batches.
  */
class StreamRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val widthKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** A parquet table of `(k, v)` rows, one file per batch, with file
    * modification times in batch order, so a stream limited to one file
    * per trigger reads the batches in order.
    */
  private def batchedTable(batches: Seq[Seq[(String, Long)]]): String = {
    import spark.implicits._
    val dir = Tmp.dir("runner_src").toFile
    val t0 = System.currentTimeMillis
    batches.zipWithIndex.foreach { case (rows, i) =>
      val staged = Tmp.dir("runner_stage").toFile
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
        .parquet(staged.toString)
      val part = staged.listFiles.find(_.getName.endsWith(".parquet")).get
      val f = new java.io.File(dir, f"batch-$i%02d.parquet")
      assert(part.renameTo(f))
      f.setLastModified(t0 - 60000 + i * 10000)
    }
    dir.toString
  }

  test("a failing stream restores the shuffle width and the state-store " +
      "provider") {
    val src = batchedTable(Seq(Seq("a" -> 1L, "b" -> 2L)))
    val boom = udf { (v: Long) =>
      if (v > 0) throw new RuntimeException("stream body failed")
      v
    }
    val df = Tables.stream(spark, src).groupBy("k")
      .agg(sum(boom(col("v"))).as("s"))
    val heap = "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
    // a width the derived one (1 for a few bytes) cannot equal
    GraftSession.withConf(spark, widthKey -> "3", providerKey -> heap) {
      intercept[StreamingQueryException] {
        StreamRunner.run(spark, df, StreamRunner.Complete, "runner_fail")
      }
      assert(spark.conf.get(widthKey) === "3")
      assert(spark.conf.get(providerKey) === heap)
    }
  }

  test("a run leaves an unset state-store provider unset") {
    // a fresh session: other suites set the key on the shared one
    val session = spark.newSession()
    session.conf.unset(providerKey)
    val src = batchedTable(Seq(Seq("a" -> 1L, "b" -> 2L)))
    val df = Tables.stream(session, src).groupBy("k")
      .agg(count(lit(1)).as("n"))
    StreamRunner.run(session, df, StreamRunner.Complete, "runner_unset")
      .collect()
    assert(!session.conf.getAll.contains(providerKey))
  }

  test("update mode keeps each key's last update when the source runs " +
      "in several micro-batches") {
    // running per-key counts: a's last update is 3 (batch 2), b's is 2
    // (batch 1), c's is 1 (batch 0) — the first or any non-last batch
    // would read lower
    val src = batchedTable(Seq(
      Seq("a" -> 1L, "b" -> 1L, "c" -> 1L),
      Seq("a" -> 1L, "b" -> 1L),
      Seq("a" -> 1L)))
    val counts = Tables.stream(spark, src, maxFilesPerTrigger = Some(1))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val base = Tmp.dir("runner_update").toString
    val got = StreamRunner.run(spark, counts, Update("k"), "runner_update",
      Some(base)).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // the sink really holds several batches, so the pick was exercised
    val batches = spark.read.parquet(s"$base/out")
      .select("__fs_batch").distinct().count()
    assert(batches === 3L)
  }
}
