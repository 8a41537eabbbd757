package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's sql-private Column ⇄ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Spark 4 wraps
  * Columns around ColumnNodes and gates the Expression constructors
  * `private[sql]`; a subpackage of `org.apache.spark.sql` is the
  * supported-by-construction way for an extension library to build a
  * Column from a custom Catalyst Expression without registering it in a
  * session's FunctionRegistry. Only these two calls cross the boundary.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Total on-disk bytes behind every file-based streaming source in
    * `df`'s logical plan (−1 when none is visible — e.g. a memory
    * source). Feeds [[graft.GraftSession.withStreamStateWidth]]'s
    * scale-adaptive stateful-shuffle sizing: the file sizes are exactly
    * what a table catalog knows before planning, so deriving width from
    * them is the streaming analogue of AQE's size-based coalescing
    * (which micro-batch plans cannot use — AQE is disabled in stateful
    * workloads). Lives in the bridge package because
    * `StreamingRelation`/`DataSource` are `private[sql]`.
    *
    * A `pathGlobFilter` source counts only the files the glob admits
    * (a single-file table is streamed as its parent directory plus a
    * glob, see [[graft.io.Tables.stream]]), so a small table next to
    * large siblings sizes by its own bytes.
    */
  def streamSourceBytes(df: org.apache.spark.sql.Dataset[_]): Long = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    try {
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      // analyzed, not logical: Spark 4 parks readStream sources behind
      // UnresolvedDataSource until analysis resolves StreamingRelation
      val sums = df.queryExecution.analyzed.collect {
        case StreamingRelation(ds, _, _) =>
          val paths = ds.paths ++ ds.options.get("path")
          paths.distinct.map { p =>
            val path = new org.apache.hadoop.fs.Path(p)
            val fs = path.getFileSystem(hconf)
            // a transiently unreadable path is UNKNOWN, not empty:
            // contributing 0 would let a single listing hiccup clamp a
            // possibly-huge stream to 1 state partition, violating the
            // "never guess narrower than configured" invariant
            try ds.options.get("pathGlobFilter") match {
              case None => fs.getContentSummary(path).getLength
              case Some(glob) =>
                fs.listStatus(path, new org.apache.hadoop.fs.GlobFilter(glob))
                  .filter(_.isFile).map(_.getLen).sum
            } catch { case _: Exception => return -1L }
          }.sum
      }
      // 0 total bytes is indistinguishable from "nothing readable";
      // keep the session width rather than clamping to the floor
      if (sums.isEmpty || sums.sum <= 0L) -1L else sums.sum
    } catch { case _: Exception => -1L }
  }
}
