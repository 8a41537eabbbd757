package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.io.Scratch
import graft.ops.PlanShape

/** The one runner every registered stream query goes through: drains a
  * streaming DataFrame to completion (AvailableNow) and returns its
  * settled result as a batch DataFrame. Result rows land on disk via
  * executor writes like any production job, never in driver memory (the
  * memory sink materializes every row in the driver — bounded for these
  * grids, but the wrong pattern to rehearse).
  *
  *  - [[Append]]   → Spark's NATIVE parquet file sink: per-batch
  *    exactly-once via the `_spark_metadata` commit log (the batch
  *    read-back honors it), the literal production path for finalized
  *    windows.
  *  - [[Complete]] → foreachBatch + idempotent full overwrite (the file
  *    sink rejects complete mode); the final batch's overwrite IS the
  *    settled aggregate, restart-safe because replaying any batch
  *    rewrites the same prefix-complete result.
  *  - [[Update]]   → foreachBatch appending each update batch stamped
  *    with its batchId; read-back keeps each key's LAST update (max
  *    batchId per key), correct under any micro-batch split the trigger
  *    picks.
  *  - [[State]]    → complete output into a noop sink; the answer is
  *    the aggregation operator's persisted STATE
  *    (`spark.read.format("statestore")`), materialized inside the
  *    RocksDB scope because the statestore source instantiates the
  *    provider from session conf at read time.
  *
  * Every run verifies under the RocksDB state-store provider
  * ([[GraftSession.withRocksDbState]]) at the data-derived state width
  * ([[GraftSession.withStreamStateWidth]]: AQE cannot size stateful
  * shuffles), and records the last micro-batch's plan shape under `tag`
  * ([[PlanShape.streamShapes]]) — the read-back is a bare sink scan, so
  * the micro-batch plan is the only place stream shape regressions show.
  *
  * Sink and checkpoint live under `base/out` and `base/ckpt`; the
  * default `base` is a fresh scratch directory per run, so repeated runs
  * stay independent. Passing the same `base` again resumes from its
  * checkpoint (FunnelStreamSpec's restart-recovery test).
  */
object StreamRunner {

  sealed trait Mode
  case object Append extends Mode
  case object Complete extends Mode
  final case class Update(lastWinsKey: String) extends Mode
  case object State extends Mode

  private val BatchCol = "__fs_batch"

  def run(s: SparkSession, df: DataFrame, mode: Mode, tag: String,
      base: Option[String] = None): DataFrame = {
    val root = base.getOrElse(Scratch.fresh("fsink_" + tag))
    val sink = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val fromState = GraftSession.withStreamStateWidth(s, df) {
      GraftSession.withRocksDbState(s) {
        val w = df.writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
        val q = mode match {
          case Append =>
            w.outputMode("append").format("parquet").option("path", sink)
              .start()
          case Complete =>
            w.outputMode("complete")
              .foreachBatch { (batch: Dataset[Row], _: Long) =>
                batch.write.mode("overwrite").parquet(sink)
              }.start()
          case _: Update =>
            w.outputMode("update")
              .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
                batch.withColumn(BatchCol, lit(batchId))
                  .write.mode("append").parquet(sink)
              }.start()
          case State =>
            w.outputMode("complete").format("noop").start()
        }
        q.awaitTermination()
        PlanShape.streamShapes.record(tag, q)
        Option.when(mode == State)(
          s.read.format("statestore").load(ckpt).localCheckpoint())
      }
    }
    fromState.getOrElse(readBack(s, sink, mode, df))
  }

  /** The settled sink contents; an absent sink means zero committed
    * batches (empty source), whose settled result is empty.
    */
  private def readBack(s: SparkSession, sink: String, mode: Mode,
      df: DataFrame): DataFrame =
    if (!new java.io.File(sink).exists)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], df.schema)
    else mode match {
      case Update(key) =>
        val w = Window.partitionBy(key).orderBy(col(BatchCol).desc)
        s.read.parquet(sink)
          .withColumn("__fs_rn", row_number().over(w))
          .filter(col("__fs_rn") === 1)
          .drop("__fs_rn", BatchCol)
      case _ => s.read.parquet(sink)
    }
}
