package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Insights

/** Hand-computable fixtures for the Insights batch. The value-level gate
  * is the three-SF DuckDB oracle sweep; these pin the local semantics
  * (discrete order statistics, exact-moment correlation, k-round label
  * propagation, regexp count definitions) a refactor could drift.
  */
class InsightsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("funnel_conversion_time: discrete median/p90 over hand-built hops") {
    import spark.implicits._
    val h = 3600000000L // 1 h in µs
    // u1 converts all three hops (1h, 2h, 4h); u2 converts only
    // signup>view (2h; its click precedes its first view); u3's view
    // precedes signup, so no hop at all
    val rows = Seq(
      (1L, 1L, "signup", 0L), (1L, 2L, "view", 1 * h),
      (1L, 3L, "click", 3 * h), (1L, 4L, "purchase", 7 * h),
      (2L, 5L, "signup", 0L), (2L, 6L, "click", 1 * h),
      (2L, 7L, "view", 2 * h),
      (3L, 8L, "view", 0L), (3L, 9L, "signup", 1 * h))
    val dir = Tmp.dir("ins_fct").toString
    rows.toDF("user_id", "event_id", "event_type", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("funnel_conversion_time")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6))).toMap
    // hop1: {1h, 2h}: n=2, median = rank (2+1) div 2 = 1 -> 1h,
    // p90 = rank (18+9) div 10 = 2 -> 2h, mean = 1.5h
    assert(got("1:signup>view") ===
      ((2L, 1 * h, 1 * h, 2 * h, 2 * h, 1.5 * h)))
    assert(got("2:view>click") === ((1L, 2 * h, 2 * h, 2 * h, 2 * h, 2.0 * h)))
    assert(got("3:click>purchase") ===
      ((1L, 4 * h, 4 * h, 4 * h, 4 * h, 4.0 * h)))
  }

  test("correlation_matrix: planted perfect correlations") {
    import spark.implicits._
    // price = 2·qty exactly => corr +1; discount = (10−qty)/100 =>
    // corr(qty, disc) = −1 and corr(price, disc) = −1
    val dir = Tmp.dir("ins_corr").toString
    Seq(1.0, 2.0, 3.0, 4.0).map(q => (q, 2.0 * q, (10 - q) / 100.0))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("correlation_matrix")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Double]("corr_qty_price") === 1.0)
    assert(r.getAs[Double]("corr_qty_discount") === -1.0)
    assert(r.getAs[Double]("corr_price_discount") === -1.0)
  }

  test("connected_components: two planted components of size 3 and 2") {
    import spark.implicits._
    // edges (supplier, part): s1–p1–s2 is one component (3 nodes);
    // s3–p2 is another (2 nodes); 3 propagation rounds reach both
    val dir = Tmp.dir("ins_cc").toString
    Seq((1L, 1L), (2L, 1L), (3L, 2L))
      .toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("connected_components")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 1L, 3L -> 1L))
  }

  test("connected_components: empty delta exits the 3-round schedule") {
    import spark.implicits._
    // single edge s1 - p1 (nodes 2, 3): round 1 relabels node 3, round
    // 2 changes nothing -> empty delta must stop before round 3
    val dir = Tmp.dir("ins_cc_ee").toString
    Seq((1L, 1L)).toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val (res, rounds) = Insights.connectedComponents(spark, dir)
    assert(res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(2L -> 1L))
    assert(rounds === 2)
  }

  test("readability_score: regexp count definitions on a known text") {
    import spark.implicits._
    val dir = Tmp.dir("ins_read").toString
    // words=6, sentences=2, vowel-group "syllables"=6
    Seq((1L, "The cat sat. The dog ran!", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("readability_score")(spark, dir).collect()(0)
    assert(r.getAs[Long]("words") === 6L)
    assert(r.getAs[Long]("sentences") === 2L)
    assert(r.getAs[Long]("syllables") === 6L)
    assert(r.getAs[Double]("words_per_sentence") === 3.0)
    assert(r.getAs[Double]("syllables_per_word") === 1.0)
    // 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(r.getAs[Double]("flesch") === 119.19)
  }

  test("skew_stats: planted heavy key yields exact rank statistics") {
    import spark.implicits._
    // 9 users with 1 event + 1 user with 11: n_keys=10, total=20,
    // p50 = rank 5 -> 1, p99 = rank 10 -> 11
    val rows = (1L to 9L).map(u => (u, u, "view", u * 1000000L)) ++
      (1L to 11L).map(i => (10L, 100L + i, "view", i * 1000000L))
    val dir = Tmp.dir("ins_skew").toString
    rows.toDF("user_id", "event_id", "event_type", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("skew_stats")(spark, dir).collect()(0)
    assert((r.getAs[Long]("n_keys"), r.getAs[Long]("total_rows"),
      r.getAs[Long]("max_rows"), r.getAs[Long]("p50_rows"),
      r.getAs[Long]("p99_rows")) === ((10L, 20L, 11L, 1L, 11L)))
    assert(r.getAs[Double]("skew_ratio") === 11.0)
    assert(r.getAs[Double]("top_share") === 0.55)
  }

  test("dup_inflation: normalization-equal texts collapse per source") {
    import spark.implicits._
    val dir = Tmp.dir("ins_dup").toString
    Seq((1L, "Hello  world", "A"), (2L, "hello world", "A"),
      (3L, "another doc", "A"), (4L, "doc one", "B"), (5L, "doc two", "B"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dup_inflation")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === Map("A" -> ((3L, 2L, 1L, 1.5)), "B" -> ((2L, 2L, 0L, 1.0))))
  }

  test("self_overlap_sample: three docs with one overlapping gram pair") {
    import spark.implicits._
    val dir = Tmp.dir("ins_ovl").toString
    // grams: {abc,bcd} vs {abc,bce} share 1 of 3; the third is disjoint
    Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("self_overlap_sample")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_pairs") === 3L)
    // pairs: 1/3, 0, 0 -> mean 1/9 (pico-quantized), max 1/3
    assert(r.getAs[Double]("avg_jaccard") === 0.111111)
    assert(r.getAs[Double]("max_jaccard") === 0.333333)
  }

  test("label_noise_detect: minority lang in a near-dup cluster flagged") {
    import spark.implicits._
    val dir = Tmp.dir("ins_noise").toString
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, txt, "en"), (2L, txt, "en"), (3L, txt, "de"),
      (4L, "totally unrelated content lives here by itself", "fr"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("label_noise_detect")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("majority_lang"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size")))
    assert(got === Array((3L, "de", "en", 1L, 3L)))
  }

  test("filter_funnel: cumulative stage drops with funnel percentages") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = Tmp.dir("ins_ff").toString
    // d4 fails the token floor, d3 the lang allowlist, d2 is d1's dup
    Seq((1L, long, "en"), (2L, long, "en"), (3L, long, "zh"),
      (4L, "too short", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("filter_funnel")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got === Array(
      (1, 4L, 3L, 1L, 25.0),
      (2, 3L, 2L, 1L, 33.3),
      (3, 2L, 1L, 1L, 50.0)))
  }

  test("attribution_ushape: exact micro-credits across k=1/2/3 and none") {
    import spark.implicits._
    val h = 3600000000L
    // u1: view,click,view -> purchase(10): U-shape 40/20/40
    // u2: click 100h before purchase(5): outside 72h window -> none
    // u3: purchase(2) with no touches -> none
    // u4: single view -> purchase(4): k=1 full credit
    // u5: click,view -> purchase(8): k=2 50/50
    val rows = Seq(
      (1L, 1L, "view", 0L, 0.0), (1L, 2L, "click", 1 * h, 0.0),
      (1L, 3L, "view", 2 * h, 0.0), (1L, 4L, "purchase", 3 * h, 10.0),
      (2L, 5L, "click", 0L, 0.0), (2L, 6L, "purchase", 100 * h, 5.0),
      (3L, 7L, "purchase", 0L, 2.0),
      (4L, 8L, "view", 0L, 0.0), (4L, 9L, "purchase", 1 * h, 4.0),
      (5L, 10L, "click", 0L, 0.0), (5L, 11L, "view", 1 * h, 0.0),
      (5L, 12L, "purchase", 2 * h, 8.0))
    val dir = Tmp.dir("ins_ush").toString
    rows.toDF("user_id", "event_id", "event_type", "us", "value")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("attribution_ushape")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(got === Map(
      "click" -> ((2L, 700000L, 0.7, 2.0 + 4.0)),
      "view" -> ((4L, 2300000L, 2.3, 12.0 + 4.0)),
      "none" -> ((2L, 2000000L, 2.0, 7.0))))
  }

  test("near_dup_eval: identical pair estimates perfectly") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = Tmp.dir("ins_nde").toString
    Seq((1L, txt), (2L, txt),
      (3L, "completely different words occupy this other document here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("near_dup_eval")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_candidates") === 1L)
    assert(r.getAs[Long]("n_pred_dup") === 1L)
    assert(r.getAs[Long]("n_true_dup") === 1L)
    assert(r.getAs[Double]("precision_dup") === 1.0)
    assert(r.getAs[Double]("mean_abs_err") === 0.0)
    assert(r.getAs[Double]("max_abs_err") === 0.0)
  }

  test("stream_daily_counts: streaming run equals hand-built daily counts") {
    import spark.implicits._
    val day = 86400000000L
    val rows = Seq(
      (1L, 1L, "view", 1 * day + 5L), (2L, 2L, "view", 1 * day + 6L),
      (3L, 3L, "click", 1 * day + 7L), (4L, 4L, "view", 2 * day + 8L))
    val dir = Tmp.dir("ins_str").toString
    rows.toDF("user_id", "event_id", "event_type", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("stream_daily_counts")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got === Array(
      ("1970-01-02", "click", 1L), ("1970-01-02", "view", 2L),
      ("1970-01-03", "view", 1L)))
  }

  test("stream_stream_join: in-stream rollup, sink holds only the day grid") {
    import spark.implicits._
    val day = 86400000000L
    // user 1: view d1 → purchases d2 (×2, one day) and d5; user 2's
    // purchase at d20 is outside the 7-day horizon of its d1 view;
    // user 3 purchases with no view at all → never joins
    val rows = Seq(
      (1L, 1L, "view", 1 * day), (1L, 2L, "purchase", 2 * day + 5L),
      (1L, 3L, "purchase", 2 * day + 6L), (1L, 4L, "purchase", 5 * day),
      (2L, 5L, "view", 1 * day), (2L, 6L, "purchase", 20 * day),
      (3L, 7L, "purchase", 2 * day + 9L))
    val dir = Tmp.dir("ins_ssj").toString
    rows.toDF("user_id", "event_id", "event_type", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val grid = Insights.streamStreamJoinDaily(spark, dir)
    // THE bounded-sink claim (the round-11 weak item): the append-mode
    // file sink holds the aggregated ≤ n_days grid, not the joined
    // pairs — 4 qualifying pairs collapse to 2 day rows before the sink
    assert(grid.count() === 2L)
    val got = grid.orderBy("p_day").collect()
      .map(r => (r.getAs[String]("p_day"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_users")))
    assert(got === Array(("1970-01-03", 2L, 1L), ("1970-01-06", 1L, 1L)))
  }

  test("dedup_threshold_sweep: identical pair lands in the top bin") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = Tmp.dir("ins_sweep").toString
    Seq((1L, txt), (2L, txt),
      (3L, "unrelated words that share nothing with the others at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_threshold_sweep")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
    assert(got === Array((9, 0.9, 1L, 1L)))
  }

  test("bloom_fpr_eval: planted member passes, distinct non-member does not") {
    import spark.implicits._
    val a = "first blocklisted document with enough words to matter"
    val b = "second blocklisted document thoroughly different from the first"
    val dir = Tmp.dir("ins_bloom").toString
    // odd ids form the blocklist; doc 2 duplicates a blocklisted text
    // (true member), doc 4 is novel (true negative; with 8 of 2048 bits
    // set its 4 probe positions are deterministically unset)
    Seq((1L, a), (3L, b), (2L, a), (4L, "a completely novel probe text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("bloom_fpr_eval")(spark, dir).collect()(0)
    assert((r.getAs[Long]("n_probes"), r.getAs[Long]("n_in_set"),
      r.getAs[Long]("n_pass"), r.getAs[Long]("n_fp"),
      r.getAs[Double]("fpr")) === ((2L, 1L, 1L, 0L, 0.0)))
  }

  test("attribution_decay: halving weights, remainder to the last touch") {
    import spark.implicits._
    val h = 3600000000L
    // u1 purchase at 72h: click 12h before (r=4), view 36h before
    // (r=2), view 70h before (r=1); rt=7 → floors 571428/285714/142857,
    // remainder +1 to the most recent touch (the click).
    // u2: purchase(2.0) with no touches → none.
    val rows = Seq(
      (1L, 1L, "view", 2 * h, 0.0), (1L, 2L, "view", 36 * h, 0.0),
      (1L, 3L, "click", 60 * h, 0.0), (1L, 4L, "purchase", 72 * h, 1.0),
      (2L, 5L, "purchase", 0L, 2.0))
    val dir = Tmp.dir("ins_dec").toString
    rows.toDF("user_id", "event_id", "event_type", "us", "value")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("attribution_decay")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(got === Map(
      "click" -> ((1L, 571429L, 0.571429, 0.571429)),
      "view" -> ((2L, 428571L, 0.428571, 0.428571)),
      "none" -> ((1L, 1000000L, 1.0, 2.0))))
  }

  test("stream_late_data: watermark drops the injected late duplicates") {
    import spark.implicits._
    val day = 86400000000L
    // user 10 (%10=0) is replayed late by the fixture; if the
    // watermark failed to drop the replay, day-0 would read 5 and
    // day-1 would read 2
    val rows = Seq(
      (10L, 1L, "view", 1 * day), (10L, 2L, "view", 1 * day + 100L),
      (10L, 3L, "view", 2 * day), (3L, 4L, "view", 1 * day + 200L))
    val dir = Tmp.dir("ins_late").toString
    rows.toDF("user_id", "event_id", "event_type", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("stream_late_data")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("1970-01-02", "view", 3L), ("1970-01-03", "view", 1L)))
  }

  test("attribution_ushape: range join stays an equi-join on user (plan)") {
    assume(new java.io.File("/root/testdata/sf0.001/events.parquet").exists())
    val plan = SparkEntry.queries("attribution_ushape")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the touch↔purchase pairing must hash on the user equality; losing
    // that clause would silently degrade to a nested-loop cartesian
    assert(!plan.contains("CartesianProduct"),
      "touch pairing must not be a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "touch pairing must not be a nested-loop join")
  }

  test("tpch_q7_like: nation joins broadcast (plan shape)") {
    assume(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists())
    val plan = SparkEntry.queries("tpch_q7_like")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "25-row nation dims must broadcast, not shuffle")
  }

  test("stream_dedup_counts: planted duplicates collapse to one per key") {
    import spark.implicits._
    // user 1 fires "a" three times and "b" once; user 2 fires "a"
    // once — streaming dropDuplicates state must collapse to
    // a→2 users, b→1 user.
    val dir = Tmp.dir("sdedup").toString
    Seq((1L, 1L, "a"), (2L, 1L, "a"), (3L, 1L, "a"), (4L, 1L, "b"),
      (5L, 2L, "a"))
      .toDF("us", "user_id", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("stream_dedup_counts")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 1L))
  }

  test("tpch_q5_like: region prune, date cut, and the LOCAL condition") {
    import spark.implicits._
    val dir = Tmp.dir("q5").toString
    Seq((1L, "ASIA"), (2L, "EUROPE")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((1L, "CHINA", 1L), (2L, "JAPAN", 1L), (3L, "FRANCE", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 1L), (2L, 3L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 2L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    Seq((1L, 1L, ts("1996-06-01")), (2L, 1L, ts("1995-06-01")),
      (3L, 2L, ts("1996-06-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // (o1,s1): local CHINA ⋈ in-range → 100·0.9 = 90
    // (o1,s2): supplier JAPAN ≠ customer CHINA → dropped (not local)
    // (o2,s1): out of date range; (o3,s1): customer FRANCE ≠ CHINA
    Seq((1L, 1L, 100.0, 0.1), (1L, 2L, 100.0, 0.0),
      (2L, 1L, 100.0, 0.0), (3L, 1L, 100.0, 0.0))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("tpch_q5_like")(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getAs[String]("nation"), out(0).getAs[Long]("n_items"),
      out(0).getAs[Double]("revenue")) === (("CHINA", 1L, 90.0)))
  }
}
