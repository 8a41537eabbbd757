package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer attribution from Spark's public listeners, for traced runs.
  *
  * Jobs, stages and tasks carry the op id as a local property, set on the
  * client thread and inherited by stream execution threads. Query
  * execution and streaming progress events carry no such property; they
  * go to the op that is open when they are delivered. `end` waits for the
  * listener buses to go quiet before it closes the op, so every event of
  * an op is delivered while that op is open. Spans stay in memory and are
  * written out with the run's result.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val opKey = "perfbench.op"
  @volatile private var current: String = null
  private val delivered = new java.util.concurrent.atomic.AtomicLong(0)

  private final class Acc {
    val jobs = mutable.Map[Int, (Long, Long)]()
    var stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var bytesRead, rowsRead = 0L
    val actions = mutable.ArrayBuffer[Action]()
    var batches, triggerMs, commitMs = 0L
    val stateRows = mutable.Map[java.util.UUID, Long]()
    val stateMem = mutable.Map[java.util.UUID, Long]()
  }
  private val accs = mutable.Map[String, Acc]()
  private val jobOp = mutable.Map[Int, String]()
  private val stageOp = mutable.Map[Int, String]()

  val spans = new java.util.ArrayList[java.util.Map[String, Any]]()

  private def acc(op: String): Acc = accs.getOrElseUpdate(op, new Acc)

  private def tick(body: => Unit): Unit = {
    synchronized { body }
    delivered.incrementAndGet()
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = tick {
      Option(e.properties).flatMap(p => Option(p.getProperty(opKey))).foreach {
        op =>
          jobOp(e.jobId) = op
          acc(op).jobs(e.jobId) = (e.time, -1L)
          e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = tick {
      jobOp.remove(e.jobId).foreach { op =>
        val a = acc(op)
        a.jobs.get(e.jobId).foreach { case (s, _) => a.jobs(e.jobId) = (s, e.time) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tick {
      stageOp.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tick {
      val m = e.taskMetrics
      stageOp.get(e.stageId).filter(_ => m != null).foreach { op =>
        val a = acc(op)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
      }
    }
  })

  private def onAction(funcName: String, qe: QueryExecution, durNs: Long): Unit =
    tick {
      val op = current
      if (op != null) {
        val phases = qe.tracker.phases.map { case (k, p) =>
          k -> (p.startTimeMs, p.endTimeMs)
        }
        acc(op).actions += Action(funcName, qe.logical.nodeName, durNs / 1e6,
          phases)
      }
    }

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      onAction(f, qe, d)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onAction(f, qe, 0L)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = tick {
      val op = current
      if (op != null) {
        val p = e.progress
        val a = acc(op)
        a.batches += 1
        a.triggerMs += Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        a.commitMs += p.stateOperators.map(_.commitTimeMs).sum
        a.stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        a.stateMem(p.id) = math.max(a.stateMem.getOrElse(p.id, 0L),
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  })

  def begin(op: String): Unit = {
    drain()
    current = op
    spark.sparkContext.setLocalProperty(opKey, op)
  }

  /** Waits until no listener event has arrived for a few polls. Listener
    * delivery is asynchronous; a traced run pays this wait between ops,
    * outside the timed slot.
    */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var polls = 0
    while (quiet < 3 && polls < 100) {
      Thread.sleep(30)
      polls += 1
      val now = delivered.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Closes op `op` (wall clock [startMs, endMs]) and returns its layer
    * metrics. `build` is the span of the registry builder call, if any.
    */
  def end(op: String, startMs: Long, endMs: Long, wallMs: Double,
      build: Option[(Long, Long)]): Map[String, Double] = {
    spark.sparkContext.setLocalProperty(opKey, null)
    drain()
    current = null
    val a = synchronized(accs.remove(op).getOrElse(new Acc))
    val jobs = a.jobs.toSeq.sortBy(_._1).map { case (id, (s, e)) =>
      (id, s, if (e < 0) endMs else e)
    }
    val phases = a.actions.flatMap(_.phases.toSeq)
    def phaseMs(name: String): Double =
      phases.collect { case (`name`, (s, e)) => (e - s).toDouble }.sum
    def clip(iv: Seq[(Long, Long)]) =
      iv.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
    val jobSpans = jobs.map { case (_, s, e) => (s, e) }
    val covered = union(clip(build.toSeq ++ phases.map(_._2) ++ jobSpans))
    val writes = a.actions.filter(x => fileWriteNodes(x.node))

    spans.add(span(op, "op", "client", startMs, endMs, null))
    build.foreach { case (s, e) => spans.add(span(op, "build", "queries", s, e, "op")) }
    a.actions.foreach { x =>
      x.phases.foreach { case (k, (s, e)) =>
        spans.add(span(op, s"${x.func}:${x.node}:$k", "catalyst", s, e, "op"))
      }
    }
    jobs.foreach { case (id, s, e) => spans.add(span(op, s"job$id", "exec", s, e, "op")) }

    Map(
      "queries.build_ms" -> build.fold(0.0) { case (s, e) => (e - s).toDouble },
      "queries.build_jobs" -> build.fold(0.0) { case (s, e) =>
        jobs.count { case (_, js, _) => js >= s && js <= e }.toDouble },
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.actions" -> a.actions.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> a.stages.toDouble,
      "exec.tasks" -> a.tasks.toDouble,
      "exec.job_ms" -> union(clip(jobSpans)).toDouble,
      "exec.task_run_ms" -> a.runMs.toDouble,
      "exec.task_cpu_ms" -> a.cpuNs / 1e6,
      "exec.task_gc_ms" -> a.gcMs.toDouble,
      "exec.spill_bytes" -> a.spill.toDouble,
      "exec.driver_gap_ms" -> math.max(0.0, wallMs - covered),
      "shuffle.write_bytes" -> a.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> a.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> a.fetchWaitMs.toDouble,
      "scan.bytes_read" -> a.bytesRead.toDouble,
      "scan.rows_read" -> a.rowsRead.toDouble,
      "io.sink_write_ms" -> writes.map(_.durMs).sum,
      "stream.batches" -> a.batches.toDouble,
      "stream.trigger_ms" -> a.triggerMs.toDouble,
      "stream.state_rows" -> a.stateRows.values.sum.toDouble,
      "stream.state_commit_ms" -> a.commitMs.toDouble,
      "stream.state_mem_mb" -> a.stateMem.values.sum / (1024.0 * 1024.0))
  }
}

object Tracer {
  final case class Action(func: String, node: String, durMs: Double,
      phases: Map[String, (Long, Long)])

  /** Logical plan roots of the parquet and csv file writes. */
  val fileWriteNodes: Set[String] =
    Set("InsertIntoHadoopFsRelationCommand", "SaveIntoDataSourceCommand")

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  def span(op: String, name: String, layer: String, s: Long, e: Long,
      parent: String): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("op", op); m.put("name", name); m.put("layer", layer)
    m.put("start_ms", s); m.put("end_ms", e); m.put("parent", parent)
    m
  }
}
