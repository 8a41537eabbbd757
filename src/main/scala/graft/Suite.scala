package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryDef

/** The one runner behind `Bench`, `Verify`, `QueryProfile` and
  * `ExplainDump`: session setup, query selection, running one query
  * under the session conf, JSON output and task counters.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (data directory, default the sf0.1
  * test data), `SPARK_GRAFT_CPUS` (local cores and shuffle width,
  * default 4) and `SPARK_GRAFT_ONLY` (comma-separated query subset,
  * unset or blank = every query).
  */
object Suite {
  type Query = (SparkSession, String) => DataFrame

  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(conf: (String, String)*): SparkSession = {
    val builder = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries named in the comma-separated `spec`, sorted
    * by name; every query when `spec` is absent or names nothing.
    * Entries are trimmed and empties dropped. An unknown name is
    * rejected rather than skipped, because a typo would otherwise leave
    * a stale result behind; `what` names the source in that error.
    */
  def select(spec: Option[String], what: String): Seq[QueryDef] = {
    val named = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = named -- SparkEntry.registry.map(_.name)
    require(unknown.isEmpty,
      s"$what names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    SparkEntry.registry.filter(d => named.isEmpty || named(d.name)).sortBy(_.name)
  }

  /** `SPARK_GRAFT_ONLY`'s selection (see [[select]]). */
  def only(): Seq[QueryDef] =
    select(sys.env.get("SPARK_GRAFT_ONLY"), "SPARK_GRAFT_ONLY")

  /** Tranche `i/N`: the i-th (0-based) of N contiguous slices of `all`,
    * each ceil(size / N) long. A tranche left empty by the ceiling split
    * (5 names at N=4 -> tranche 3) is rejected: a driver looping i over
    * 0..N-1 would otherwise get a silent no-op run.
    */
  def tranche[A](all: Seq[A], spec: String): Seq[A] = {
    val usage = s"SPARK_GRAFT_TRANCHE must be i/N with 0 <= i < N, got '$spec'"
    val (i, n) = spec.split("/").map(_.trim) match {
      case Array(a, b) if a.matches("\\d{1,9}") && b.matches("\\d{1,9}") =>
        (a.toInt, b.toInt)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(i < n, usage)
    val per = (all.size + n - 1) / n
    val slice = all.slice(i * per, (i + 1) * per)
    require(slice.nonEmpty,
      s"tranche $i/$n selects no queries (${all.size} after " +
        "filtering; ceiling split exhausted them in earlier tranches)")
    slice
  }

  /** Build `query` and hand it to `sink`; any failure is returned, not
    * thrown, so one broken query never stops the rest of a suite.
    */
  def run[A](spark: SparkSession, sfDir: String, query: Query)(
      sink: DataFrame => A): Either[Throwable, A] =
    try Right(sink(query(spark, sfDir)))
    catch { case e: Throwable => Left(e) }

  /** Full execution without write-path cost (`count()` would let the
    * optimizer prune work).
    */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** JSON string literal: backslash, quote and every control character
    * escaped, so a tab or CR in a message or SQL text still parses.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      runMs: Long, memSpilled: Long, diskSpilled: Long, bytesRead: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runMs - o.runMs, memSpilled - o.memSpilled,
      diskSpilled - o.diskSpilled, bytesRead - o.bytesRead)
  }

  /** Running totals of jobs, completed stages, tasks, executor run time,
    * spill and input bytes read (file and table scans, not shuffle) since
    * registration, plus each job's duration. Callers take deltas of
    * [[settled]] around the work they attribute.
    */
  final class TaskListener extends SparkListener {
    private val jobs, stages, tasks, runMs, mem, disk, read = new AtomicLong(0)
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    private val jobMs = new ConcurrentLinkedQueue[(Int, Long)]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (jobStart.containsKey(j.jobId))
        jobMs.add(j.jobId -> (j.time - jobStart.remove(j.jobId)))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
        read.addAndGet(m.inputMetrics.bytesRead)
      }
    }

    def counts: Counts = Counts(jobs.get, stages.get, tasks.get, runMs.get,
      mem.get, disk.get, read.get)

    /** [[counts]] once two consecutive 100 ms polls agree (at most 2 s):
      * listener events arrive asynchronously after the action returns.
      */
    def settled(): Counts = {
      var last: Counts = null
      var stable = 0
      var i = 0
      while (stable < 2 && i < 20) {
        Thread.sleep(100); i += 1
        val c = counts
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      counts
    }

    /** (job id, ms) of the jobs that ended since the last call. */
    def takeJobs(): Seq[(Int, Long)] =
      Iterator.continually(jobMs.poll()).takeWhile(_ != null).toSeq
  }
}
