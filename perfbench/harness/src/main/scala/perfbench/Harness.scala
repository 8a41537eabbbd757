package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.app.RunReports

/** Benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * Drives the program only through the entry points its users and `Bench`
  * use — `RunReports.run` for reports, `SparkEntry.withOverlay` around a
  * registry query written to the `noop` sink for queries. Set-up (session
  * start, input generation, the untimed pass that also produces the
  * outputs the checker compares) ends at the first timed op. The timed
  * loop runs ops back to back until `--seconds` have passed; the raw
  * per-op records go to `--result` as JSON, and `run.py` turns them into
  * metrics and runs the output checks.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data SF_DIR --work DIR --result FILE --t0-ms EPOCH_MS
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, result: Path, t0Ms: Long)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), Paths.get(need("--work")),
      Paths.get(need("--result")), need("--t0-ms").toLong)
  }

  /** One unit of client work. `run` returns the build span (epoch ms) of a
    * registry query's `fn(spark, dir)` call, or None for a report.
    */
  final case class Op(name: String, run: () => Option[(Long, Long)])

  /** A workload: the ops of one pass, the untimed set-up, and where the
    * timed window may end: after any op (`minPasses` 0), or only on a pass
    * boundary once `minPasses` whole passes have run.
    */
  trait Workload {
    def ops: Seq[Op]
    def minPasses: Int
    def prepare(): Unit
    /** Directly timed calls into single layers, traced runs only. */
    def traceExtras(op: Op): Map[String, Double] = Map.empty
    /** Run facts for the result file: check locations, input sizes. */
    def info: Map[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val spark = GraftSession.builder("4")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    val wl: Workload = a.workload match {
      case "report_daily" => new ReportDaily(spark, a)
      case "query_light" => new QueryWorkload(spark, a, QueryWorkload.light)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.prepare()
    val preparedMs = System.currentTimeMillis()

    val rng = new scala.util.Random(a.seed)
    val records = new java.util.ArrayList[java.util.Map[String, Any]]()
    val windowNs = (a.seconds * 1e9).toLong
    var firstOpMs = 0L
    var t0 = 0L
    var pass = 0
    var done = false
    while (!done) {
      val order = rng.shuffle(wl.ops)
      val it = order.iterator
      while (it.hasNext && !done) {
        val op = it.next()
        // the GC nudge stays outside the timed slot, as in Bench
        System.gc()
        val opId = s"${records.size}:${op.name}"
        tracer.foreach(_.begin(opId))
        val startMs = System.currentTimeMillis()
        if (t0 == 0L) { firstOpMs = startMs; t0 = System.nanoTime() }
        val s = System.nanoTime()
        val outcome =
          try Right(op.run())
          catch { case e: Throwable => Left(e) }
        val wallMs = (System.nanoTime() - s) / 1e6
        val endMs = System.currentTimeMillis()
        val rec = new java.util.LinkedHashMap[String, Any]()
        rec.put("op", op.name)
        rec.put("pass", pass)
        rec.put("wall_ms", wallMs)
        outcome match {
          case Left(e) =>
            rec.put("error",
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          case Right(_) =>
        }
        tracer.foreach { t =>
          val build = outcome.toOption.flatten
          t.end(opId, startMs, endMs, wallMs, build).foreach {
            case (k, v) => rec.put(k, v)
          }
          wl.traceExtras(op).foreach { case (k, v) => rec.put(k, v) }
        }
        records.add(rec)
        val elapsed = System.nanoTime() - t0
        val mayEnd = wl.minPasses == 0 || (!it.hasNext && pass + 1 >= wl.minPasses)
        if (elapsed >= windowNs && mayEnd) done = true
      }
      pass += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val peakRssMb = Host.peakRssMb()
    val canary = Host.canarySec()
    val canaryPar = Host.canaryParSec(spark.sparkContext.defaultParallelism)

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", a.workload)
    out.put("seed", a.seed)
    out.put("setup_s", (firstOpMs - a.t0Ms) / 1000.0)
    out.put("jvm_s", (java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime - a.t0Ms) / 1000.0)
    out.put("session_s", (sessionMs - a.t0Ms) / 1000.0)
    out.put("prepare_s", (preparedMs - sessionMs) / 1000.0)
    out.put("timed_s", timedS)
    out.put("peak_rss_mb", peakRssMb)
    out.put("canary_sec", canary)
    canaryPar.foreach(out.put("canary_par_sec", _))
    wl.info.foreach { case (k, v) => out.put(k, toJava(v)) }
    out.put("ops", records)
    tracer.foreach(t => out.put("spans", t.spans))
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(a.result.toFile, out)
    spark.stop()
  }

  def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }
}

/** Registry queries, run the way `Bench` runs them. Set-up runs two
  * untimed passes: the first writes each result as parquet, the way
  * `Verify` does, for the oracle compare; the second runs the timed
  * `noop` path once, without which the first timed pass runs 15-20%
  * slower and the run-to-run spread of the median doubles.
  */
final class QueryWorkload(spark: SparkSession, a: Harness.Args,
    names: Seq[String]) extends Harness.Workload {
  private val checkDir = a.work.resolve("check")
  private val registry = SparkEntry.queries

  // every run times the same multiset of queries, each at least twice
  def minPasses: Int = 2

  lazy val ops: Seq[Harness.Op] = names.map { name =>
    val fn = registry(name)
    Harness.Op(name, () => SparkEntry.withOverlay(spark, name) {
      val b0 = System.currentTimeMillis()
      val df = fn(spark, a.data)
      val b1 = System.currentTimeMillis()
      df.write.mode("overwrite").format("noop").save()
      Some((b0, b1))
    })
  }

  def prepare(): Unit = {
    val oracleSql = SparkEntry.oracleSql
    val oracles = new java.util.LinkedHashMap[String, String]()
    names.foreach { name =>
      System.gc()
      SparkEntry.withOverlay(spark, name) {
        registry(name)(spark, a.data).coalesce(1).write
          .mode("overwrite").parquet(checkDir.resolve(name).toString)
      }
      oracles.put(name, oracleSql(name))
    }
    new ObjectMapper().writeValue(
      checkDir.resolve("oracle_sql.json").toFile, oracles)
    ops.foreach { op => System.gc(); op.run() }
  }

  def info: Map[String, Any] = Map(
    "check_dir" -> checkDir.toString, "check_data" -> a.data,
    "pass_ops" -> names.size)
}

object QueryWorkload {
  /** The `query_light` list: every sixth name, in alphabetical order and
    * starting with the fifth, of a seeded draw of 36 from the registry's
    * sub-second band (less file_lineage, which writes outside the working
    * directory); then the paper's funnel over events in its batch and its
    * streaming form. The streaming twin is the only op that runs
    * `graft.streaming` and its state store.
    */
  val light: Seq[String] = Seq(
    "asof_join", "dp_counts", "mixture_sample", "quality_sample",
    "table_checksum", "welch_ttest", "funnel_table", "stream_funnel_table")
}

/** Host-speed canaries: the same splitmix-and-sort kernels, array size
  * and min-of-3 as `Bench`'s `canary_sec` / `canary_par_sec`. Context
  * only; never compared.
  */
object Host {
  private def kernel(salt: Long): Long = {
    val a = new Array[Long](1 << 22)
    var i = 0
    while (i < a.length) {
      var z = (i.toLong + (salt << 32)) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      a(i) = z ^ (z >>> 31)
      i += 1
    }
    java.util.Arrays.sort(a)
    a(a.length / 2)
  }

  def canarySec(): Double = {
    var sink = 0L
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sink ^= kernel(0)
      (System.nanoTime() - t0) / 1e9
    }
    if (sink == 42L) System.err.println("")
    reps.min
  }

  /** None when a kernel thread dies, so a bogus fast value never shows. */
  def canaryParSec(n: Int): Option[Double] = {
    val died = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val threads = (0 until n).map { t =>
        new Thread(() => {
          try { if (kernel(t.toLong) == 42L) System.err.println("") }
          catch { case _: Throwable => died.set(true) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    if (died.get()) None else Some(reps.min)
  }

  /** VmHWM of this JVM: in local mode, driver and executors together. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(-1.0)
}
