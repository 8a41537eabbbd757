package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.ops.PlanShape

/** AQE skew-join evidence for the banded dedup joins.
  *
  * `Dedup.minhashBandedPairs` and `Dedup.prefixJaccardPairs` claim
  * "AQE-skew-splittable" shapes: their candidate stages are plain
  * equi-joins on band/gram keys, so when a corpus plants a hot key (a
  * boilerplate near-dup family), the runtime must be able to split the
  * hot reducer partition across tasks instead of serializing the whole
  * bucket through one. This spec proves the claim END TO END on the
  * real operators: a planted hot family, AQE thresholds scaled to the
  * fixture's byte sizes (production keeps the 256 MB default because
  * production skew is GBs), then assert via [[PlanShape.skewJoinStats]]
  * that (a) the runtime flagged the join `isSkewJoin`, (b) the hot
  * partition actually split into multiple PartialReducerPartitionSpec
  * slices, and (c) the results are IDENTICAL to the unsplit run — the
  * negative control with skewJoin disabled returns the same pair count
  * and no skew flags, so the assertion isn't vacuous.
  *
  * The sf10-scale measurement of this probe (a 12k-doc near-dup
  * family against the 500k-doc corpus, wall times with the split
  * on/off) is recorded in PLANS.md.
  */
class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** Run `body` with AQE skew thresholds scaled to spec-sized shuffles
    * (partition bytes here are KBs, not the GBs the 256 MB default
    * targets), restoring every key afterwards — the session is shared
    * across suites.
    */
  private def withSkewConf[A](skewEnabled: Boolean)(body: => A): A =
    GraftSession.withConf(spark,
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> skewEnabled.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2k",
      // coalescing OFF: at spec scale, parallelismFirst coalesces the
      // tiny upstream stages to ONE map task, and a skewed reducer
      // partition fed by a single map has no map ranges to split —
      // createSkewPartitionSpecs returns None and the skew silently
      // doesn't fire. Production-scale maps are plentiful, so this is
      // a fixture-size artifact, not an operator property.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  /** 600 identical docs (one hot band key per band — the worst-case
    * boilerplate family) + 60 unique docs for a cold baseline. Hot
    * band-key partitions measure ~8 KB compressed vs ~3 KB median, so
    * factor 2.0 at the 2k threshold flags exactly the hot keys.
    */
  private def minhashCorpus: DataFrame = {
    val hotText = (0 until 40).map(j => s"hot$j").mkString(" ")
    spark.range(660).select(col("id").as("doc_id"),
      when(col("id") < 600, lit(hotText))
        .otherwise(concat_ws(" ", (0 until 40).map(j =>
          concat(lit(s"u${j}_"), col("id"))): _*)).as("text"))
  }

  test("minhash banded join: AQE splits the planted hot band key") {
    withSkewConf(skewEnabled = true) {
      val pairs = Dedup.minhashBandedPairs(minhashCorpus)
      val n = pairs.queryExecution.toRdd.count()
      // C(600,2): every hot pair collides in all 4 bands at distance 0;
      // unique docs never collide — the split must not change results
      assert(n === 179700L)
      val (skewJoins, splits) = PlanShape.skewJoinStats(pairs)
      assert(skewJoins >= 1,
        "banded self-join was not flagged isSkewJoin — hot band key " +
          "not detected or OptimizeSkewedJoin reverted")
      assert(splits >= 2,
        s"expected the hot partitions to split into >=2 map-range " +
          s"slices, got $splits")
    }
  }

  test("minhash banded join: negative control without skew handling") {
    withSkewConf(skewEnabled = false) {
      val pairs = Dedup.minhashBandedPairs(minhashCorpus)
      val n = pairs.queryExecution.toRdd.count()
      assert(n === 179700L)
      val (skewJoins, splits) = PlanShape.skewJoinStats(pairs)
      assert(skewJoins === 0 && splits === 0,
        "skew machinery fired with skewJoin.enabled=false")
    }
  }

  /** Run `body`'s Spark jobs while recording the MAX per-task shuffle
    * write record count — the per-task work bound the salt-split is
    * supposed to enforce (a hot self-join bucket serializes its whole
    * pair product through ONE task's shuffle write; salted blocks
    * spread it). Listener events are async, so after the action the
    * value is polled until stable.
    */
  private def maxTaskShuffleWrite[A](body: => A): (A, Long) = {
    val max = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val r = m.shuffleWriteMetrics.recordsWritten
          max.updateAndGet(c => math.max(c, r))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = body
      var last = -1L
      var stable = 0
      var waited = 0
      // drained when unchanged across three 200 ms polls (≤ 15 s cap)
      while (stable < 3 && waited < 75) {
        Thread.sleep(200)
        waited += 1
        val v = max.get()
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      (res, max.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("minhash banded join: operator salt-split bounds the hot bucket " +
      "when AQE skew detection is blind") {
    withSkewConf(skewEnabled = false) {
      // cap 50 forces the 600-doc family into m=12 salt blocks per band
      val salted = Dedup.minhashBandedPairs(minhashCorpus,
        hotBucketCap = 50)
      val (n, maxSalted) =
        maxTaskShuffleWrite(salted.queryExecution.toRdd.count())
      assert(n === 179700L)
      // the salted run never crossed an AQE skew split — the bound is
      // the operator's own, not the runtime detector's
      val (skewJoins, splits) = PlanShape.skewJoinStats(salted)
      assert(skewJoins === 0 && splits === 0,
        "AQE skew machinery fired with skewJoin.enabled=false")
      // sensitivity control: cap disabled, same corpus, same conf —
      // the hot band bucket's C(600,2) pair product serializes through
      // single tasks. 78 blocks/band spread over 16 reducers puts the
      // salted expectation near 45k; the unsalted floor is one whole
      // band's 179,700.
      val unsalted = Dedup.minhashBandedPairs(minhashCorpus,
        hotBucketCap = Int.MaxValue)
      val (n2, maxUnsalted) =
        maxTaskShuffleWrite(unsalted.queryExecution.toRdd.count())
      assert(n2 === 179700L)
      assert(maxUnsalted > 150000L,
        s"control failed to reproduce the hot task (max=$maxUnsalted) — " +
          "the metric no longer captures the straggler, fix the test")
      assert(maxSalted < 120000L,
        s"salt-split did not bound per-task work: max=$maxSalted " +
          s"(unsalted control: $maxUnsalted)")
      // pair identity, both directions — not just the count
      assert(salted.select("doc_a", "doc_b", "jaccard_dist")
        .except(unsalted.select("doc_a", "doc_b", "jaccard_dist"))
        .isEmpty, "salted pairs ⊄ unsalted")
      assert(unsalted.select("doc_a", "doc_b", "jaccard_dist")
        .except(salted.select("doc_a", "doc_b", "jaccard_dist"))
        .isEmpty, "unsalted pairs ⊄ salted")
    }
  }

  test("prefix jaccard join: operator salt-split bounds the hot gram " +
      "when AQE skew detection is blind") {
    // 600 IDENTICAL docs (the boilerplate family whose every prefix
    // gram is hot AND whose candidates survive the PPJoin filters) +
    // 60 unique docs for a cold margin
    val hotText = (0 until 6).map(j => s"hot$j").mkString(" ")
    val docs = spark.range(660).select(col("id").as("doc_id"),
      when(col("id") < 600, lit(hotText))
        .otherwise(concat_ws(" ", (0 until 6).map(j =>
          concat(lit(s"u${j}_"), col("id"))): _*)).as("text"))
    withSkewConf(skewEnabled = false) {
      val salted = Dedup.prefixJaccardPairs(docs, threshold = 0.5,
        hotBucketCap = 50)
      val (n, maxSalted) =
        maxTaskShuffleWrite(salted.queryExecution.toRdd.count())
      assert(n === 179700L)
      val unsalted = Dedup.prefixJaccardPairs(docs, threshold = 0.5,
        hotBucketCap = Int.MaxValue)
      val (n2, maxUnsalted) =
        maxTaskShuffleWrite(unsalted.queryExecution.toRdd.count())
      assert(n2 === 179700L)
      assert(maxUnsalted > 150000L,
        s"control failed to reproduce the hot task (max=$maxUnsalted)")
      assert(maxSalted < 120000L,
        s"salt-split did not bound per-task work: max=$maxSalted " +
          s"(unsalted control: $maxUnsalted)")
      assert(salted.except(unsalted).isEmpty, "salted pairs ⊄ unsalted")
      assert(unsalted.except(salted).isEmpty, "unsalted pairs ⊄ salted")
    }
  }

  test("prefix-filtered jaccard join: AQE splits the hot boilerplate gram") {
    // 300 identical PAIRS of 4-token docs sharing one boilerplate
    // shingle: with sz=2 the whole set is prefix, so the hot gram (the
    // one shape that defeats rarest-first prefix ordering — a doc whose
    // entire prefix is boilerplate) lands in every prefix: one gram key
    // with 600 rows vs 2-row keys for the per-pair tails.
    val docs = spark.range(600).select(col("id").as("doc_id"),
      concat(lit("b1 b2 b3 t"), (col("id") / 2).cast("long").cast("string"))
        .as("text"))
    withSkewConf(skewEnabled = true) {
      val pairs = Dedup.prefixJaccardPairs(docs, threshold = 0.5)
      val n = pairs.queryExecution.toRdd.count()
      // exactly the 300 identical pairs survive the exact-Jaccard
      // verify (cross-family candidates share only the boilerplate
      // gram: J = 1/3 < 0.5)
      assert(n === 300L)
      val (skewJoins, splits) = PlanShape.skewJoinStats(pairs)
      assert(skewJoins >= 1,
        "prefix candidate join was not flagged isSkewJoin")
      assert(splits >= 2,
        s"expected hot-gram partition split into >=2 slices, got $splits")
    }
  }
}
