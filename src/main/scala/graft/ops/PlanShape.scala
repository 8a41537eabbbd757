package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins._

/** Physical-plan shape fingerprinting — the regression gate for the
  * scale properties the round audits check by hand: no cartesian
  * products, no unexpected single-partition exchanges, the expected
  * broadcast/shuffle join mix, and no stray global sorts.
  *
  * A fingerprint is a canonical one-line count vector over the
  * pre-execution physical plan (AQE's `initialPlan` — the statically
  * chosen shape; runtime re-plans only ever improve on it). The counts
  * are snapshotted per query into the committed `PLANSHAPES.json` and
  * asserted by PlanShapeSpec: a deliberate plan change must update the
  * snapshot in the same commit, and an accidental one (a broadcast
  * silently degrading to sort-merge, a new single-partition exchange, a
  * resurrected global sort) trips `sbt test` instead of waiting for a
  * round-level bench diff.
  *
  * Counts, not tree hashes: expression ids, file listings, and stats
  * annotations churn between runs, but the operator mix of a fixed
  * query on fixed data is stable — and it is exactly the property the
  * 100 TB review cares about.
  */
object PlanShape {

  /** Flatten the plan tree, descending through AQE roots into their
    * statically planned shape.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Canonical shape line, e.g.
    * `cartesian=0 bnlj=1 bhj=3 smj=0 shj=0 exchange=4 single_exchange=1 global_sort=1`.
    *
    *  - `cartesian`        CartesianProductExec — forbidden at scale; any
    *                       nonzero count must be a reviewed snapshot entry
    *  - `bnlj`             BroadcastNestedLoopJoinExec — legitimate only as
    *                       a broadcast-small side (1-row combines)
    *  - `bhj`/`smj`/`shj`  the equi-join mix; a bhj→smj drift is the classic
    *                       silent regression (lost broadcast)
    *  - `exchange`         all shuffle exchanges (the shuffle budget)
    *  - `single_exchange`  exchanges whose static partitioning is
    *                       SinglePartition — grand aggregates earn exactly
    *                       one; anything extra is a scale killer
    *  - `global_sort`      SortExec with global=true — the output ORDER BY
    *                       earns one; row-scale intermediate sorts do not
    */
  def fingerprint(df: DataFrame): String =
    countsOf(nodes(df.queryExecution.executedPlan))

  private def countsOf(ns: Seq[SparkPlan]): String = {
    val exchanges = ns.collect { case e: ShuffleExchangeExec => e }
    val parts = Seq(
      "cartesian" -> ns.count(_.isInstanceOf[CartesianProductExec]),
      "bnlj" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "bhj" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "exchange" -> exchanges.size,
      "single_exchange" ->
        exchanges.count(_.outputPartitioning.numPartitions == 1),
      "global_sort" -> ns.count {
        case s: SortExec => s.global
        case _ => false
      })
    parts.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** Fingerprint of a streaming MICRO-BATCH physical plan (from
    * `GraftMicroBatchAccess.lastExecution`): the same count vector as
    * [[fingerprint]] plus the stateful-operator count — the streaming
    * shape property a 100 TB review cares about (state appearing where
    * none is expected, or a dedup/session/join losing its store).
    * Stateful nodes are matched by class-name prefix, not imports: the
    * exec classes are `private[sql]` and the set (StateStoreSave/
    * Restore, StreamingDeduplicate, FlatMapGroupsWithState,
    * TransformWithState, StreamingSymmetricHashJoin, SessionWindow
    * variants) shares the naming convention.
    */
  def microBatchFingerprint(p: SparkPlan): String = {
    val ns = nodes(p)
    val stateful = ns.count { n =>
      val c = n.getClass.getSimpleName
      c.startsWith("StateStore") || c.startsWith("Streaming") ||
        c.startsWith("FlatMapGroupsWithState") ||
        c.startsWith("TransformWithState") ||
        c.startsWith("SessionWindowStateStore")
    }
    countsOf(ns) + s" stateful=$stateful"
  }

  /** Flatten the plan AFTER execution, descending through AQE roots into
    * the final (runtime re-planned) physical plan and through query-stage
    * leaves into their materialized subplans. [[nodes]] deliberately
    * reads the STATIC shape; this reads what actually ran — the view
    * where AQE runtime decisions (skew-join splits, coalesced reads,
    * demoted broadcasts) are visible.
    */
  def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: executedNodes(a.executedPlan)
    case q: QueryStageExec => q +: executedNodes(q.plan)
    case _ => p +: p.children.flatMap(executedNodes)
  }

  /** Capture registry for streaming micro-batch plan shapes.
    *
    * The batch gate fingerprints a DataFrame before running it; a
    * stream query's shape only exists while the query RUNS, and the
    * verification read-back is a bare scan of the sink — so the one
    * stream runner, [[graft.streaming.StreamRunner]], records the last
    * micro-batch's fingerprint here right after each drain, keyed by
    * the query's stream tag. PlanShapeSpec drains the registry around
    * each registered stream query and asserts the committed
    * `PLANSHAPES_STREAM.json` snapshot. Always-on: a record is one map
    * put of a short string per stream RUN (each query reuses its one
    * tag, so the map stays bounded).
    */
  object streamShapes {
    private val shapes =
      scala.collection.concurrent.TrieMap[String, String]()

    def record(tag: String,
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      org.apache.spark.sql.execution.streaming.runtime.GraftMicroBatchAccess
        .lastExecution(q)
        .foreach(qe =>
          shapes.put(tag, microBatchFingerprint(qe.executedPlan)))

    /** Snapshot-and-clear, for per-query attribution in the gate. */
    def drain(): Map[String, String] = {
      val m = shapes.toMap
      shapes.clear()
      m
    }
  }

  /** AQE skew-join evidence from an executed DataFrame: the number of
    * shuffled joins the runtime flagged `isSkewJoin`, and the total
    * [[PartialReducerPartitionSpec]] count across all adaptive shuffle
    * reads (each is one split slice of a skewed reducer partition —
    * > the number of skewed partitions when AQE fans one hot partition
    * out over several map ranges).
    */
  def skewJoinStats(df: DataFrame): (Int, Int) = {
    val ns = executedNodes(df.queryExecution.executedPlan)
    val skewJoins = ns.count {
      case j: SortMergeJoinExec => j.isSkewJoin
      case j: ShuffledHashJoinExec => j.isSkewJoin
      case _ => false
    }
    val splits = ns.collect { case r: AQEShuffleReadExec =>
      r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
    }.sum
    (skewJoins, splits)
  }
}
