package graft

import graft.queries.QueryDef

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, printing ONE JSON line with per-query seconds.
  *
  * Each query is fully executed through the `noop` sink ([[Suite.noop]]).
  * A failed query is reported under `"errors"`, NOT as a timing: a
  * wall-clock number indistinguishable from success would mask
  * regressions.
  *
  * Environment, beyond [[Suite]]'s: `SPARK_GRAFT_TRANCHE=i/N` runs one
  * tranche ([[Suite.tranche]]); `SPARK_GRAFT_PASSES` (default 2);
  * `SPARK_GRAFT_SPILL` set adds per-query spill; `SPARK_GRAFT_BENCH_OUT`
  * (default `target/bench_full.json`) is where the line is also written.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Suite.sfDir
    val spark = Suite.session()

    // SPARK_GRAFT_TRANCHE=i/N caps the queries per JVM for long soaks:
    // one JVM running hundreds of heavy queries accumulates cleaner/GC
    // debt that inflates successor slots 2-100x, and tranching bounds
    // how much debt any slot can inherit (the soak driver loops over i)
    val selected = Suite.only()
    val suite = sys.env.get("SPARK_GRAFT_TRANCHE")
      .fold(selected)(Suite.tranche(selected, _))

    // SPARK_GRAFT_PASSES=1 turns bench into a single-pass soak runner
    // (no warm-up, no extra samples): constrained-memory and linearity
    // soaks care about completion + metrics, not steady-state timing,
    // and the warm-up pass would double a multi-minute suite for
    // nothing.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    require(passes >= 1, "SPARK_GRAFT_PASSES must be >= 1")

    // SPARK_GRAFT_SPILL=1: per-query executor spill deltas reported as a
    // "spill" JSON field — the spill-not-OOM evidence a
    // constrained-memory soak exists to produce. Attribution uses the
    // FIRST timed pass only (spill is a plan property, not a noise
    // source).
    val spillTrack = sys.env.contains("SPARK_GRAFT_SPILL")
    val listener = new Suite.TaskListener
    if (spillTrack) spark.sparkContext.addSparkListener(listener)
    val spills =
      scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

    // Host-speed canaries, recorded alongside the suite timings so
    // cross-run comparisons can divide out host speed: a fixed,
    // data-independent splitmix + sort of a deterministic long range,
    // min of 3. `canary_sec` runs it on one thread (per-core speed,
    // what every task slot sees); `canary_par_sec` runs one array per
    // core at once (the parallel throughput under all-core load, which
    // can move while per-core speed does not).
    def canaryKernel(salt: Long): Long = {
      val a = new Array[Long](1 << 22)
      var i = 0
      while (i < a.length) {
        // splitmix64-style mix: cheap, fixed, and incompressible by
        // the JIT into anything data-dependent
        var z = (i.toLong + salt) * 0x9E3779B97F4A7C15L
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
        sink ^= canaryKernel(0L)
        (System.nanoTime() - t0) / 1e9
      }
      if (sink == 42L) System.err.println("") // defeat dead-code elim
      reps.min
    }
    val canary = canarySec()

    // A thread that dies (e.g. OOM allocating its array on a
    // low-memory driver) would otherwise be swallowed by join() and
    // yield a silently-fast bogus value that poisons every
    // canary-normalized comparison — degrade to None (field omitted)
    // so bench_compare falls back to canary_sec on both sides.
    def canaryParSec(): Option[Double] = {
      val n = spark.sparkContext.defaultParallelism
      val died = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val threads = (0 until n).map { t =>
          new Thread(() => {
            try {
              if (canaryKernel(t.toLong << 32) == 42L) System.err.println("")
            } catch { case _: Throwable => died.set(true) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      if (died.get()) {
        System.err.println("canary_par_sec: a rep thread died; omitting")
        None
      } else Some(reps.min)
    }
    val canaryPar = canaryParSec()

    // Warm-up pass: run the whole suite once UNTIMED, then time the
    // second pass. A fresh JVM's first execution of a plan shape pays
    // janino compilation + C2 JIT of the whole Catalyst/codegen stack —
    // measured 20+ s on the heavier plans vs ~2 s steady-state. The
    // steady state is what a long-lived cluster actually runs at, and is
    // the number a 100 TB throughput estimate should extrapolate from
    // (same reasoning as JMH warm-up iterations).
    if (passes > 1) {
      Suite.noop(spark.range(1 << 20).selectExpr("sum(id)"))
      suite.foreach { case QueryDef(name, fn, _) =>
        Suite.run(spark, sfDir, fn)(Suite.noop)
      }
    }

    // Two timed passes, min per query. A single pass is hostage to
    // whatever else the host is doing during THAT query's 0.2-30 s slot:
    // round-5 and round-6 ran IDENTICAL code and individual queries
    // swung 60x (0.44 s -> 34 s) purely from machine noise. The min of
    // two spaced samples is a far better estimator of the plan's true
    // cost — noise only ever adds time, never subtracts it. Failures are
    // per-sample, not per-query: a transient pass-1 failure still gets
    // its pass-2 attempt, and a pass-2 failure never erases a valid
    // pass-1 timing — only a query with NO successful sample reports an
    // error (the same reasoning as the min: noise can only lose samples).
    // Soak mode (single pass) DRAINS the cleaner between timed slots
    // instead of just nudging it: System.gc() alone only ENQUEUES
    // dropped broadcast/shuffle refs, and the async cleaning thread then
    // competes with the next query's timed slot, inflating tranche
    // values 2-100x. drain() polls the cleaner's reference buffer until
    // the post-GC wave stops shrinking, so debt is paid between slots,
    // not inside them. Multi-pass bench keeps the cheap gc-only nudge:
    // min-of-N already absorbs slot noise and the full drain would add
    // ~0.4 s x 3 passes x suite size.
    val soakDrain = passes == 1
    def interSlot(): Unit =
      if (soakDrain)
        org.apache.spark.graftbridge.CleanerBridge.drain(spark.sparkContext)
      else System.gc()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (pass <- 1 to passes) {
      suite.foreach { case QueryDef(name, fn, _) =>
        // Trigger ContextCleaner OUTSIDE the timed slot: cleanup of
        // dropped broadcast/shuffle references is driven by driver GC,
        // which a large heap may never run across a 70-query suite —
        // and a periodic-GC timer would instead fire full GCs INSIDE
        // timed slots, which min-of-two cannot cancel when both passes
        // of a long query absorb one.
        interSlot()
        val spillBase = if (spillTrack && pass == 1) listener.settled() else null
        val t0 = System.nanoTime()
        Suite.run(spark, sfDir, fn)(Suite.noop) match {
          case Right(_) =>
            val sec = (System.nanoTime() - t0) / 1e9
            timings(name) = timings.get(name).fold(sec)(math.min(_, sec))
            errors.remove(name)
            if (spillBase != null) {
              val d = listener.settled() - spillBase
              spills(name) = (d.memSpilled, d.diskSpilled)
            }
          case Left(e) =>
            if (!timings.contains(name))
              errors(name) =
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    }

    // Heavy-tail variance control: min-of-two holds the noise down for
    // sub-second queries, but the >2 s tail still swung 30%+ between
    // rounds (spearman_corr 3.65 vs 4.86 s, same code/SF) — one GC or
    // page-cache event inside a long slot shifts BOTH samples. Queries
    // whose current min exceeds 2 s get a THIRD spaced sample; min of
    // three cuts the chance that every sample absorbed noise.
    suite.foreach { case QueryDef(name, fn, _) =>
      if (passes > 1 && timings.get(name).exists(_ > 2.0)) {
        System.gc()
        val t0 = System.nanoTime()
        // a failed third sample keeps the existing min
        if (Suite.run(spark, sfDir, fn)(Suite.noop).isRight) {
          val sec = (System.nanoTime() - t0) / 1e9
          timings(name) = math.min(timings(name), sec)
        }
      }
    }

    import Suite.json
    val qs = timings.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val spillField =
      if (!spillTrack) ""
      else spills.map { case (k, (m, d)) =>
        s"""${json(k)}:{"mem_spilled":$m,"disk_spilled":$d}"""
      }.mkString(""","spill":{""", ",", "}")
    val canaryParField =
      canaryPar.fold("")(v => s""""canary_par_sec":$v,""")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","canary_sec":$canary,$canaryParField"queries":$qs,"errors":$es$spillField,"sf":${json(sfDir)}}"""
    println(line)
    // Durable full-suite artifact: the driver's captured stdout
    // truncates past ~64 queries, so the same line also goes to a file
    // (override the path via SPARK_GRAFT_BENCH_OUT to snapshot a soak
    // run).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench_full write failed: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
