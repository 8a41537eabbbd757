package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PlanShape

/** Physical-plan shape regressions: the properties PLANS.md documents,
  * enforced. A change that silently un-broadcasts a dimension join,
  * drops a pushed filter, or sneaks an all-pairs cartesian into a
  * near-dup path fails here, not at 100 TB.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("filters: every predicate is pushed to the parquet scan") {
    // default metadata cap (100 chars) truncates the PushedFilters list
    val p = GraftSession.withConf(spark,
      "spark.sql.maxMetadataStringLength" -> "2000")(plan(q("filters")))
    assert(p.contains("PushedFilters"))
    Seq("In(o_orderstatus", "EqualTo(o_orderpriority,1-URGENT)",
      "IsNotNull(o_custkey)").foreach(f =>
      assert(p.contains(f), s"predicate not pushed: $f\n$p"))
  }

  test("filters: scan is column-pruned to the projection") {
    val p = plan(q("filters"))
    assert(!p.contains("o_orderdate"), "unprojected column read from parquet")
  }

  test("join_broadcast: both dimension joins are broadcast, no shuffle join") {
    val p = plan(q("join_broadcast"))
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2, p.take(500))
    assert(!p.contains("SortMergeJoin"))
  }

  test("funnel_table: exactly one scan of events") {
    val p = plan(q("funnel_table"))
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"funnel must read events once\n${p.take(800)}")
  }

  test("attribution is join-free: the as-of credit comes from one window pass") {
    val p = plan(q("attribution"))
    assert(!p.contains("Join"), s"attribution must not join\n${p.take(600)}")
    assert("Window".r.findAllIn(p).size >= 1, p.take(400))
  }

  test("bootstrap_ci: the replicate aggregate partial-combines before its exchange") {
    val p = plan(q("bootstrap_ci"))
    // two-phase agg: map-side partial on (grp, r) then final — the ×48
    // explode must collapse to |groups|·R rows before shuffling
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("CartesianProduct"))
    // the adaptive fanout is active on the single-row-group local scan
    assert(p.contains("RoundRobinPartitioning"), p.take(600))
  }

  test("welch_ttest and embed_dim_stats reduce map-side to moment rows") {
    Seq("welch_ttest", "embed_dim_stats").foreach { name =>
      val p = plan(q(name))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$name must partial-aggregate\n${p.take(500)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name must not join\n${p.take(500)}")
    }
  }

  test("near-dup candidate generation never degenerates to a cartesian product") {
    Seq("dedup_minhash", "dedup_simhash", "cosine_neardup",
      "neardup_signlsh", "range_join_window", "asof_join").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name has an all-pairs join")
    }
  }

  test("dedup_minhash: banded self-join shuffles (never broadcasts the O(N) side) and reuses the signature exchange") {
    val df = q("dedup_minhash")
    df.collect() // adaptive plan finalizes only on execution
    val p = plan(df)
    assert(p.contains("ShuffledHashJoin"), p.take(400))
    assert(p.contains("ReusedExchange"),
      s"signature pipeline computed twice\n${p.take(400)}")
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("cosine_topk: the only cross join is the 1-row broadcast query vector") {
    val p = plan(q("cosine_topk"))
    // BroadcastNestedLoopJoin with a 1-row build side is the intended
    // shape; a CartesianProduct (both sides unbroadcast) is not.
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("driver smoke contract: entry returns a non-empty funnel table") {
    assert(SparkEntry.entry(spark).count() === 18)
  }

  test("groupby aggregates use two-phase hash aggregation (map-side partials)") {
    val p = plan(q("groupby_count"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(500))
  }

  test("decontaminate_ngram: held-out grams and matched ids broadcast, corpus never shuffles") {
    val p = plan(q("decontaminate_ngram"))
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2, p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("chunk_docs: map-only until the output sort (no hash exchange)") {
    val p = plan(q("chunk_docs"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle\n${p.take(600)}")
  }

  test("embed_quantize: no shuffle at all before the output sort") {
    val p = plan(q("embed_quantize"))
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
  }

  test("cohort_retention: first-touch aggregate broadcasts back onto events") {
    val p = plan(q("cohort_retention"))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("dedup_horizon / cdc-style rank filters prune partition-locally (WindowGroupLimit)") {
    val p = plan(q("dedup_horizon"))
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("runtime bloom-filter pruning injects into a selective shuffle join") {
    // The 100 TB lever behind Catalyst's InjectRuntimeFilter: when a
    // shuffle join's small side carries a selective filter, a bloom
    // filter built from it prunes the big side's rows BEFORE the
    // shuffle. Thresholds exist for production sizes; at fixture scale
    // the application side must be allowed to qualify and the join must
    // actually shuffle, or the rule correctly declines — so this pins
    // both the configs that arm it and the plan shape it produces.
    import org.apache.spark.sql.functions._
    GraftSession.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val urgent = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      val p = plan(joined)
      assert(p.contains("bloom_filter") || p.contains("BloomFilterMightContain"),
        s"no runtime bloom filter injected\n${p.take(1200)}")
    }
  }

  test("AQE splits the skewed partition on the unsalted twin of salted_join") {
    // salted_join exists for plans AQE can't rescue; this pins the
    // complementary claim — that for the rescuable shape (hot key in a
    // shuffle join, no downstream partitioning requirement) the engine's
    // AQE posture actually fires. One key carries ~1000x the median's
    // rows; thresholds are scaled to fixture bytes the same way the
    // bloom-filter test scales its scan threshold.
    import org.apache.spark.sql.functions._
    GraftSession.withConf(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val big = spark.range(0, 300000).select(
        when(col("id") < 250000, lit(0L))
          .otherwise(pmod(col("id"), lit(64L))).as("k"),
        col("id").as("v"),
        // payload bytes push the hot partition across the threshold
        lpad(lit("x"), 64, "x").as("pad"))
      val dim = spark.range(0, 64)
        .select(col("id").as("k"), (col("id") * 10).as("w"))
      // global (non-keyed) aggregate downstream: OptimizeSkewedJoin
      // declines when splitting would break a required hash
      // partitioning — a groupBy("k") here would mask the mechanism
      val j = big.join(dim.hint("merge"), "k")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
      j.collect() // adaptive plan finalizes only on execution
      val p = plan(j)
      assert(p.contains("skew=true"),
        s"AQE skew-join split did not fire\n${p.take(1200)}")
    }
  }

  test("dpp_join: runtime DynamicPruningExpression reaches the fact scan") {
    assume(new java.io.File(dir).exists)
    val df = q("dpp_join")
    df.collect() // DPP subquery materializes at execution
    val p = plan(df).toLowerCase
    assert(p.contains("dynamicpruning"),
      s"no DynamicPruningExpression in fact scan\n${p.take(1500)}")
  }

  test("join_nullsafe: EqualNullSafe key still hash-joins the broadcast dim") {
    val p = plan(q("join_nullsafe"))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "null-safe equality fell off the hash-join path")
  }

  test("multi_distinct: one scan fans through Expand, not three self-reads") {
    val p = plan(q("multi_distinct"))
    assert(p.contains("Expand"), p.take(800))
    assert("Scan parquet".r.findAllIn(p).size === 1,
      "multiple scans for multi-distinct aggregate")
  }

  test("FuseArrayDot: composed aggregate(zip_with(*)) fuses to the native strict dot") {
    val p = plan(q("sql_dot_topk"))
    assert(p.contains("array_dot_strict"),
      s"composed dot product not fused\n${p.take(1200)}")
    assert(!p.contains("aggregate("), "higher-order fold survived the rewrite")
  }

  test("tpch_q5_like: both dim paths broadcast, date filter is pushed") {
    val p = GraftSession.withConf(spark,
      "spark.sql.maxMetadataStringLength" -> "2000")(plan(q("tpch_q5_like")))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dim joins not broadcast\n${p.take(1500)}")
    assert(p.contains("IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date filter not pushed to the scan")
  }

  test("batch_padding: both policy windows share ONE lang exchange") {
    val p = plan(q("batch_padding"))
    assert("hashpartitioning\\(lang".r.findAllIn(p).size === 1,
      s"expected exactly one lang exchange\n${p.take(1500)}")
  }

  test("bloom_join_reduction: a single lineitem pass feeds all counters") {
    val p = plan(q("bloom_join_reduction"))
    val scans = "FileScan parquet".r.findAllIn(p).size
    // the orders side is consumed by the eager localCheckpoint, so the
    // executed plan may read parquet only for lineitem — and only once
    assert(scans <= 1, s"fact table scanned more than once\n${p.take(1500)}")
  }

  test("registry: duplicate names rejected, every def has an oracle") {
    import graft.queries.QueryDef
    // a name registered twice is rejected at construction, within one
    // list and across two, and the error names the duplicate
    val a = QueryDef("dup_a", (s, _) => s.range(1).toDF(), "SELECT 1")
    val b = QueryDef("other", a.build, "SELECT 2")
    val within = intercept[IllegalArgumentException](
      QueryDef.registry(Seq(a, b, a)))
    assert(within.getMessage.contains("dup_a") &&
      !within.getMessage.contains("other"), within.getMessage)
    val across = intercept[IllegalArgumentException](
      QueryDef.registry(Seq(a, b), Seq(a.copy(oracle = "SELECT 3"))))
    assert(across.getMessage.contains("dup_a") &&
      !across.getMessage.contains("other"), across.getMessage)
    assert(QueryDef.registry(Seq(a), Seq(b)) === Seq(a, b))
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === SparkEntry.registry.length)
  }

  test("registered runs leave the session conf as they found it") {
    // no key added, dropped or changed by a run, including one that
    // fails: the next query in a suite must see the same session
    val before = spark.conf.getAll.toSet
    def leaked(): Set[(String, String)] = {
      val now = spark.conf.getAll.toSet
      (now -- before) ++ (before -- now)
    }
    val failed = Suite.run(spark, dir, (s, _) => s.range(1).toDF()) { _ =>
      throw new RuntimeException("boom")
    }
    assert(failed.left.map(_.getMessage) === Left("boom"))
    assert(leaked().isEmpty, s"a failed run changed the session conf: ${leaked()}")
    // a dynamic-partition-overwrite write, a stream under a derived width
    // and the RocksDB provider, and the queries that set their fan-out
    // width in their plans
    Seq("dynamic_overwrite", "stream_funnel_table", "adamic_adar",
        "containment_neardup", "curation_pipeline", "prefix_jaccard")
      .foreach { name =>
        val r = Suite.run(spark, dir, SparkEntry.queries(name))(Suite.noop)
        assert(r.isRight, s"$name failed: $r")
        assert(leaked().isEmpty, s"$name changed the session conf: ${leaked()}")
      }
  }

  // The stage where each query multiplies rows runs at the session's
  // shuffle width at sf0.01 too, where AQE would coalesce its few-MB
  // input exchange to a single partition.
  private def joinOutputs(column: String): SparkPlan => Boolean = {
    case j: BaseJoinExec => j.output.exists(_.name == column)
    case _ => false
  }
  private def partitions(p: SparkPlan): Int = p match {
    case r: RDDScanExec => r.rdd.getNumPartitions // a checkpoint's scan
    case _ => p.outputPartitioning.numPartitions
  }
  Seq(
    // pa ⋈ pb on the part streams the checkpointed weighted edge list
    // (pb is broadcast at this scale)
    "adamic_adar" -> ((p: SparkPlan) => p match {
      case r: RDDScanExec => r.output.exists(_.name == "w_pico")
      case _ => false
    }),
    // the candidate join against each posting list, and the verify join
    "containment_neardup" -> joinOutputs("doc_b"),
    // the verify join over the candidate pairs
    "prefix_jaccard" -> joinOutputs("g_b"),
    // the dedup window, whose stage runs decontaminate, gate and chunking
    "curation_pipeline" -> ((p: SparkPlan) => p.isInstanceOf[WindowExec])
  ).foreach { case (name, fanOut) =>
    test(s"$name: the fan-out stage runs at the session's shuffle width") {
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      df.collect() // the adaptive plan finalizes only on execution
      val widths = PlanShape.executedNodes(df.queryExecution.executedPlan)
        .filter(fanOut).map(partitions)
      assert(widths.nonEmpty, s"no fan-out operator in $name's plan")
      assert(widths.forall(_ >= width),
        s"$name fan-out partitions $widths < shuffle width $width")
    }
  }

  test("withConf restores explicit settings only, also after a throw and " +
      "across nested scopes") {
    // a fresh session: no other suite's explicit settings
    val s = spark.newSession()
    val unset = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val set = "spark.sql.shuffle.partitions"
    s.conf.unset(unset)
    s.conf.set(set, "5")
    val seen = GraftSession.withConf(s, unset -> "64k", set -> "7") {
      val inner = GraftSession.withConf(s, set -> "9")(s.conf.get(set))
      (s.conf.get(unset), inner, s.conf.get(set))
    }
    assert(seen === (("64k", "9", "7")))
    def restored(): Unit = {
      assert(!s.conf.getAll.contains(unset), "an unset key came back set")
      assert(s.conf.getAll.get(set) === Some("5"))
    }
    restored()
    intercept[RuntimeException](GraftSession.withConf(s, unset -> "1k",
      set -> "7")(throw new RuntimeException("boom")))
    restored()
  }

  test("under src/main only GraftSession writes or scopes session conf") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> Files.readString(f)).toSeq
    def containing(needles: String*): Seq[String] = sources.collect {
      case (name, text) if needles.exists(text.contains) => name
    }
    assert(containing("conf.set(", "conf.unset(") === Seq("GraftSession.scala"),
      "write session conf through GraftSession.withConf")
    // a query needs no conf scope of its own: a width belongs in its plan
    assert(containing("withConf(") === Seq("GraftSession.scala"),
      "no per-query conf scope outside GraftSession")
  }
}
