package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Scratch

/** Standard session configuration for the graft engine, and the only
  * code under `src/main` that writes session conf: [[builder]] and
  * [[tune]] apply the defaults, and every scoped setting (per-query
  * overlays, stream widths, the state-store provider) goes through
  * [[withConf]], which restores explicit settings only, so a key that
  * was unset before a scope is unset after it.
  *
  * - `spark.sql.ansi.enabled=false`: the funnel sources are string-typed CSVs
  *   cast at query time (`CAST(x AS DOUBLE)`, reference
  *   `report_engine.py:123-153`). The reference degrades gracefully on bad
  *   cells (Drill error -> caught -> empty frame, `report_engine.py:60-62`);
  *   non-ANSI casts (bad cell -> null, skipped by SUM) are the Spark analogue.
  *   Spark 4 defaults ANSI on, which would instead kill the job.
  * - `spark.sql.shuffle.partitions` sized to cores: local[N] has N executor
  *   threads; 200 (the default) would produce tiny shuffle files. On a real
  *   cluster this is overridden by AQE coalescing anyway.
  * - AQE on: runtime re-plan (skew-join split, partition coalescing) is the
  *   100 TB posture — plans are sized by observed stats, not guesses.
  * - `spark.sql.warehouse.dir` under [[graft.io.Scratch]]: managed tables
  *   live and die with the JVM's scratch root, and no session creates a
  *   `spark-warehouse/` in its working directory. A later `.config` on
  *   the returned builder overrides it.
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder = {
    // SPARK_GRAFT_MASTER overrides the local[cores] default so the
    // executor-boundary evidence runs can use `local-cluster[w,c,mem]`
    // (real worker/executor JVMs — closures, broadcasts, typed
    // Aggregator buffers, and codegen'd expressions actually cross a
    // process boundary there, which plain local[*] never exercises).
    // SPARK_GRAFT_JARS then ships the packaged graft jar to those
    // executors — a bare classes directory cannot cross the boundary.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config(Defaults)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Scratch.fresh("spark-warehouse"))
    sys.env.get("SPARK_GRAFT_JARS").fold(b)(b.config("spark.jars", _))
  }

  /** The runtime-settable graft defaults, set by [[builder]] and by
    * [[tune]].
    */
  private val Defaults: Map[String, String] = Map(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply [[Defaults]] to a session created elsewhere (e.g. by a host
    * application). Every registered build applies it itself
    * ([[SparkEntry.registry]]); a caller that drives operators directly
    * on such a session calls it first.
    *
    * `nanosAsLong`: kept as a compatibility guard — if a dataset carries
    * TIMESTAMP(NANOS) (as the harness's `events.parquet` once did), Spark 4
    * otherwise refuses to read it (PARQUET_TYPE_ILLEGAL); with this on,
    * `ts` arrives as raw Long nanos. For TIMESTAMP(MICROS) data the conf
    * is a no-op. Readers must branch on the OBSERVED schema, not assume a
    * physical precision (see [[graft.io.Tables.events]]).
    */
  def tune(spark: SparkSession): SparkSession = {
    Defaults.foreach { case (k, v) => spark.conf.set(k, v) }
    // size shuffles to the actual core count when the caller's session
    // kept the 200 default (builder() already does this for our mains)
    if (spark.conf.get("spark.sql.shuffle.partitions") == "200")
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toString)
    spark
  }

  /** Adaptive scan fan-out. The local test parquet arrives as ONE file
    * with ONE row group, which Spark cannot split — so every scan-side
    * pipeline (token explodes, md5 feature hashing, window
    * pre-projections) would otherwise run on a single core regardless
    * of the session's parallelism (measured: bootstrap_ci 10.2 s
    * single-core vs 1.6 s spread, sf0.1/local[32]). When a scan
    * arrives with fewer partitions than half the available cores,
    * spread it round-robin to the shuffle width; on a real cluster the
    * scan already carries thousands of splits, the predicate is false,
    * and this is the identity — no exchange is added at scale.
    * Round-robin, not keyed: no co-location assumption to get wrong,
    * downstream keyed exchanges are unchanged, and the extra exchange
    * never matches a plan gate on `Exchange hashpartitioning`. Results
    * are partition-order independent by the repo's determinism
    * contract (exact quantized aggregates + total ORDER BY).
    *
    * Applied PER QUERY where fan-out compute dominates, never blanket
    * in the table loaders: the exchange itself costs ~0.3-0.5 s at
    * sf0.1, which light scan→filter→agg queries never win back
    * (blanket application regressed the 153-query suite 140 s → 186 s
    * while the 6 heavy explode/hash pipelines it now guards improved
    * 2-6x).
    */
  def fanout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (df.rdd.getNumPartitions * 2 <= spark.sparkContext.defaultParallelism)
      df.repartition(spark.sessionState.conf.numShufflePartitions)
    else df
  }

  /** Per-partition source-byte target for [[streamStateWidth]]: 8 MiB.
    * At sf0.1 (2 MB source) any target from 8 to 64 MiB derives width 1,
    * but the sf1 per-batch probe showed the regime past the fsync-bound
    * commit is COMPUTE-bound: a 22 MB source carries a 2M-row
    * symmetric-hash join whose addBatch ran 30 s on a single partition
    * while state commit cost ~1 s. 8 MiB/partition widens exactly when
    * there is real per-row work to spread (sf1 derives 3) and still
    * saturates at cluster width long before production scale; the A/B
    * table in OPTIMIZATION_r18.md pins the choice.
    */
  val StreamStatePartitionBytes: Long = 8L << 20

  /** Scale-adaptive stateful-stream shuffle width:
    * ⌈sourceBytes / [[StreamStatePartitionBytes]]⌉ clamped to
    * [1, defaultParallelism]. Streaming stateful operators cannot use AQE
    * (disabled in stateful workloads), so their shuffle — and therefore
    * their STATE STORE count — is pinned at plan time to
    * `spark.sql.shuffle.partitions`, a constant tuned to the core count.
    * That constant is wrong in both directions (guide §2): at 100 TB it
    * undershoots (the cap keeps it at cluster width, the right ceiling),
    * and on a small replay it overshards catastrophically — at sf0.1 the
    * 2 MB events stream got 32 state partitions (64 KB each), and every
    * partition × every store × every micro-batch paid a full RocksDB
    * checkpoint commit whose cost is fsync-bound, not data-bound
    * (measured on local[4] at sf0.1: `rocksdbCommitFileSyncLatency`
    * was >90% of commit time; stream_stream_join 13.5 s → 6.2 s, stream_sessionize
    * 9.1 s → 3.8 s, stream_late_data 6.9 s → 2.7 s at the derived
    * width). The 8 MiB/partition target sits well below the guide's
    * 100 MB–1 GB range precisely so the width ramps up early as data
    * grows. `sourceBytes < 0` (unknown — no file source visible) keeps
    * the session's width: never guess narrower than configured.
    */
  def streamStateWidth(s: SparkSession, sourceBytes: Long): Int = {
    val byData = (sourceBytes + StreamStatePartitionBytes - 1) /
      StreamStatePartitionBytes
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong, byData))
      .toInt
  }

  /** Run `body` (which starts and drains streaming queries over the
    * file-backed stream `src`) with `spark.sql.shuffle.partitions` set
    * to [[streamStateWidth]] of the source's on-disk bytes, restoring
    * the prior width afterwards. Result-neutral by the engine's
    * determinism contract (exact aggregates, per-key stateful logic,
    * total output ORDER BY) — partitioning never changes any declared
    * query's rows.
    */
  def withStreamStateWidth[A](s: SparkSession, src: DataFrame)(
      body: => A): A = {
    val bytes =
      org.apache.spark.sql.graftbridge.GraftBridge.streamSourceBytes(src)
    if (bytes < 0) body
    else withConf(s,
      "spark.sql.shuffle.partitions" -> streamStateWidth(s, bytes).toString)(
      body)
  }

  /** Run `body` (which starts and drains streaming queries on `s`) with
    * the RocksDB state-store provider pinned, restoring the prior
    * setting afterwards. This is the 100 TB stateful-streaming posture
    * and the provider EVERY engine stream query verifies under: the
    * default HDFS-backed store keeps every keyed entry on-heap, which
    * cannot hold a day's key space at scale, while RocksDB keeps
    * working state off-heap with local-disk overflow (and is required
    * by `transformWithState` anyway). The provider is read at query
    * START, so wrapping the start+drain is sufficient; stateless
    * streams simply never open a store. Save/restore (rather than a
    * session-wide default) keeps spec-level negative controls able to
    * exercise the heap provider deliberately.
    */
  def withRocksDbState[A](s: SparkSession)(body: => A): A =
    withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
      body)

  /** Run `body` with each of `kvs` set on `s`, then restore every key,
    * also when `body` throws: a key set explicitly before goes back to
    * its value, an unset key goes back to unset. The prior state comes
    * from `getAll`, which holds only explicit settings; `get`/`getOption`
    * return the registered default for an unset key, and writing that
    * back would leave the key set. Nested scopes unwind innermost first.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val explicit = s.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
