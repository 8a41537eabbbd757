package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Analytics

/** Hand-computable checks for the analytics batch's tricky pieces: the
  * Morton interleave expression and the strict-order funnel fold. The
  * value-level gate for every query is the DuckDB oracle; these pin the
  * local semantics a refactor could silently change.
  */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("interleave16Sql: hand-computed Morton codes") {
    import spark.implicits._
    // z(x,y) puts x's bit i at 2i and y's bit i at 2i+1
    // z(3,5): x=011 -> bits 0,2; y=101 -> bits 1,5 => 1+4+2+32 = 39
    val df = Seq((1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .selectExpr(s"${Analytics.interleave16Sql("x", "y")} AS z")
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 39L, 4294967295L))
  }

  test("bitmap_distinct: 62-bit word arithmetic matches exact distincts across the month rollup") {
    import spark.implicits._
    val dir = Tmp.dir("bitmap_distinct").toString
    def d(y: Int, m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"$y-$m%02d-15 00:00:00")
    // custkeys straddle the 62-bit word boundary (61 | 62) and repeat
    // within a month (61 twice in Jan) and across months (61 again in
    // Feb): Jan {0,61,62}=3, Feb {61,124}=2, year-merged {0,61,62,124}=4
    Seq(
      (d(2025, 1), 0L), (d(2025, 1), 61L), (d(2025, 1), 62L),
      (d(2025, 1), 61L),
      (d(2025, 2), 61L), (d(2025, 2), 124L),
      (d(2026, 3), 5L))
      .toDF("o_orderdate", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("bitmap_distinct")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got === Array((2025, 2L, 5L, 4L, 4L), (2026, 1L, 1L, 1L, 1L)))
  }

  test("subseq_count: all view<click<purchase index triples, exactly") {
    import spark.implicits._
    val dir = Tmp.dir("subseq").toString
    // user 1 timeline v v c p c p: triples = v{1,2}·c3·p{4,6} (4)
    // + v{1,2}·c5·p6 (2) = 6; user 2 has a purchase but no prefix
    val ev = Seq(
      (1L, 1L, 1000L, "view"), (1L, 2L, 2000L, "view"),
      (1L, 3L, 3000L, "click"), (1L, 4L, 4000L, "purchase"),
      (1L, 5L, 5000L, "click"), (1L, 6L, 6000L, "purchase"),
      (2L, 7L, 1000L, "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("subseq_count")(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3)) === ((1L, 6L, 6L, 6L)))
  }

  test("try_arithmetic: row-level NULL degradation, not job failure") {
    import spark.implicits._
    val dir = Tmp.dir("try_arith").toString
    // event_id 0 hits ALL THREE pathological residues (0 % m = 0): its
    // divisor vanishes and its cast input is the non-numeric
    // event_type; ids 997 % 1000 = 997 stays under the overflow
    // headroom while 998 pushes past BIGINT max
    Seq((1L, "a", 0L), (998L, "7", 1000000000L), (0L, "b", 2000000000L))
      .toDF("event_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("try_arithmetic")(spark, dir).collect()(0)
    // n=3; div0: ids 1,998 fine, id 0 divides by zero -> 2; overflow:
    // id 998's addend 998 > 997 headroom -> NULL -> 2; badcast: id 0
    // lands the raw event_type in the cast -> 2; control: never nulls
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 2L, 2L, 2L, 3L)))
  }

  test("session_window_agg: exact-gap event merges, gap+1µs splits") {
    import spark.implicits._
    val dir = Tmp.dir("sess_win").toString
    val gap = 1800000000L // 30 min in µs
    // the empirical boundary pin: u2's event at EXACTLY last+gap still
    // merges (session_window's merge test is next <= last + gap — the
    // same break-on-`>` rule as the batch sessionize), while u3's
    // event one µs past the boundary starts a new session; emitted
    // ends are last_ts + gap
    Seq((1L, 1L, 0L), (1L, 2L, gap - 1),
        (2L, 3L, 0L), (2L, 4L, gap),
        (3L, 5L, 0L), (3L, 6L, gap + 1))
      .toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("session_window_agg")(
        spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
    assert(got === Array(
      (1L, 2L, 0L, gap - 1 + gap),
      (2L, 2L, 0L, 2 * gap),
      (3L, 1L, 0L, gap),
      (3L, 1L, gap + 1, 2 * gap + 1)))
  }

  test("recursive_tree: planted 2-level forest walks to exact depths") {
    import spark.implicits._
    val dir = Tmp.dir("rec_cte").toString
    // roots 1..3 (< 7); 8 DIV 7 = 1, 15 DIV 7 = 2, 21 DIV 7 = 3 parent
    // them; 57 DIV 7 = 8 chains one level deeper
    Seq(1L, 2L, 3L, 8L, 15L, 21L, 57L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val got = SparkEntry.queries("recursive_tree")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getAs[Long]("n"),
        r.getAs[Long]("key_sum"), r.getAs[Long]("n_roots")))
    assert(got === Array(
      (0, 3L, 6L, 3L),      // roots 1+2+3
      (1, 3L, 44L, 3L),     // 8+15+21, one per root
      (2, 1L, 57L, 1L)))    // 57 under root 1 via 8
  }

  test("variant_json: missing path extracts null, fields round-trip typed") {
    import spark.implicits._
    val dir = Tmp.dir("var_json").toString
    Seq((1L, 10L, "view", 0.125, 0L), (2L, 11L, "view", 2.5, 0L))
      .toDF("event_id", "user_id", "event_type", "value", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("variant_json")(spark, dir)
      .collect()(0)
    assert((r.getAs[String]("event_type"), r.getAs[Long]("n"),
      r.getAs[Long]("n_users"), r.getAs[Long]("amount_micros"),
      r.getAs[Long]("missing_nonnull"))
      === (("view", 2L, 2L, 2625000L, 0L)))
  }

  test("peak_concurrency: sweep-line peak, inclusive ends, midnight-spanning session") {
    import spark.implicits._
    val dir = Tmp.dir("peak_conc").toString
    val m = 60000000L // 1 min in µs
    val day = 86400000000L
    // day 0: u1 [0,20m], u3 [12m,22m], u2 [13m,13m] -> all three open
    //   at 13m (peak 3); u4 starts 23:50 and runs past midnight
    //   (20-min gap keeps one session) -> counted on BOTH days
    // day 1: only u4's clipped tail [00:00,00:10] -> peak 1
    val rows = Seq(
      (1L, 1L, 0L * m), (1L, 2L, 20L * m),
      (3L, 3L, 12L * m), (3L, 4L, 22L * m),
      (2L, 5L, 13L * m),
      (4L, 6L, day - 10L * m), (4L, 7L, day + 10L * m))
    rows.map { case (u, e, us) => (u, e, "view", us * 1000) } // ns
      .toDF("user_id", "event_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("peak_concurrency")(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got === Array(("1970-01-01", 3L, 4L), ("1970-01-02", 1L, 1L)))
  }

  test("funnel_ordered fold: stage advances only in order and within the window") {
    import spark.implicits._
    val h = 3600000000L // 1 h in µs
    // user 1: signup -> view(+1h) -> click(+2h) -> purchase(+3h): all
    //   within the 6 h step window => stage 4
    // user 2: view BEFORE signup, nothing after => stage 1 (signup only)
    // user 3: signup -> view 10 h later (outside window) => stage 1
    // user 4: no signup at all => stage 0
    val rows = Seq(
      (1L, 0L * h, 1L, "signup"), (1L, 1L * h, 2L, "view"),
      (1L, 2L * h, 3L, "click"), (1L, 3L * h, 4L, "purchase"),
      (2L, 0L * h, 5L, "view"), (2L, 1L * h, 6L, "signup"),
      (3L, 0L * h, 7L, "signup"), (3L, 10L * h, 8L, "view"),
      (4L, 0L * h, 9L, "click"))
    val dir = Tmp.dir("funnel_ordered").toString
    rows.toDF("user_id", "ts_us", "event_id", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        // events.parquet carries ns-precision stamps read as Long nanos
        (col("ts_us") * 1000).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("funnel_ordered")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 1L, 1 -> 2L, 4 -> 1L))
  }

  test("funnel_ordered: per-user sequence cap bounds a power-user key") {
    import spark.implicits._
    val h = 3600000000L // 1 h in µs
    // user 1 is the "power user": 60 noise events (error/other — never
    // collected at all), then signup→view→click→purchase, where the
    // purchase is their 5th RELEVANT event. user 2 has only noise
    // events => must still count at stage 0 via the user backfill join.
    val rows =
      (0 until 60).map(i => (1L, i * 1000L, 100L + i, "error")) ++
        Seq(
          (1L, 0L * h, 1L, "signup"), (1L, 1L * h, 2L, "view"),
          (1L, 2L * h, 3L, "view"), (1L, 3L * h, 4L, "click"),
          (1L, 4L * h, 5L, "purchase"),
          (2L, 0L, 6L, "error"), (2L, 1000L, 7L, "other"))
    val dir = Tmp.dir("funnel_cap").toString
    rows.toDF("user_id", "ts_us", "event_id", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("ts_us") * 1000).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run(cap: Int) = Analytics.funnelOrdered(spark, dir, cap)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // uncapped (default-sized cap): user 1 completes the funnel
    assert(run(100000) === Map(0 -> 1L, 4 -> 1L))
    // cap 4: user 1's 5th relevant event (the purchase) is cut, so they
    // stall at stage 3; the 60 noise events never count against the cap
    assert(run(4) === Map(0 -> 1L, 3 -> 1L))
  }

  test("contamination_score: half-, fully-, and un-contaminated docs band apart") {
    import spark.implicits._
    // doc 20 is held out (%20==0) with grams {t1..t8, t2..t9}; doc 1
    // shares its first 8-gram only (1/2 → band 5), doc 2 shares none
    // (band 0), doc 3 IS the 8-gram (1/1 → band 10).
    val dir = Tmp.dir("contam").toString
    Seq(
      (20L, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 x1"),
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("contamination_score")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      0L -> ((1L, 0L, 2L)),
      5L -> ((1L, 1L, 2L)),
      10L -> ((1L, 1L, 1L))))
  }

  test("tpch_q18_like: HAVING cut in cents, dims join the pruned set") {
    import spark.implicits._
    val dir = Tmp.dir("q18").toString
    // order 1 sums to 30000 cents (> 28000), order 2 only 10000
    Seq((1L, 150.0), (1L, 150.0), (2L, 100.0))
      .toDF("l_orderkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L, 100.0), (2L, 20L, 50.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "Alice"), (20L, "Bob")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("tpch_q18_like")(spark, dir).collect()
    assert(out.length === 1)
    val r = out(0)
    assert((r.getAs[Long]("c_custkey"), r.getAs[String]("c_name"),
      r.getAs[Long]("orderkey"), r.getAs[Long]("totalprice_cents"),
      r.getAs[Long]("sum_qty_cents")) === ((10L, "Alice", 1L, 10000L,
      30000L)))
  }

  test("join_size_estimate: uniform per-bucket frequencies are exact") {
    import spark.implicits._
    val dir = Tmp.dir("jse").toString
    // every key appears 2x on the fact side, 1x on the dim side:
    // per bucket ra = 2·da, rb = db = da → est = Σ 2·da = 40 = actual
    val keys = (1L to 20L)
    keys.flatMap(k => Seq(k, k)).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    keys.toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("join_size_estimate")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("actual_rows") === 40L)
    assert(r.getAs[Long]("est_micros") === 40000000L)
    assert(r.getAs[Double]("rel_error") === 0.0)
  }

  test("merge_cdc_delete: tombstones drop rows, survivors checksum") {
    import spark.implicits._
    val dir = Tmp.dir("cdc_del").toString
    // 3 → delete (3%7=3); 20 → update +100 (20%10=0, 20%7=6);
    // 7 → keep AND spawns insert -8 @1.00 (7%1000=7); 5 → keep
    Seq((3L, 1.00), (20L, 4.00), (7L, 3.00), (5L, 2.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("merge_cdc_delete")(spark, dir)
      .collect()(0)
    assert((r.getAs[Long]("n_keep"), r.getAs[Long]("n_update"),
      r.getAs[Long]("n_delete"), r.getAs[Long]("n_insert"),
      r.getAs[Long]("n_survivors")) === ((2L, 1L, 1L, 1L, 4L)))
    // 200 (key 5) + 300 (key 7) + 10400 (key 20) + 100 (insert -8)
    assert(r.getAs[Long]("survivor_cents") === 11000L)
  }

  test("bloom_join_reduction: no false negatives, exact join untouched") {
    import spark.implicits._
    val dir = Tmp.dir("bloom_join").toString
    Seq((1L, "1-URGENT"), (2L, "3-MEDIUM"), (3L, "1-URGENT"))
      .toDF("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // keys 1,1,3 join URGENT orders; 2 and 99 must be dropped
    Seq(1L, 1L, 2L, 3L, 99L).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("bloom_join_reduction")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("total_rows") === 5L)
    assert(r.getAs[Long]("joined_rows") === 3L) // the exact join result
    // no false negatives ever; with m=262144 over 5 keys, no false
    // positives either (md5-deterministic — this is a fixed outcome)
    assert(r.getAs[Long]("bloom_pass") === 3L)
    assert(r.getAs[Long]("fp_passed") === 0L)
  }
  test("interval_join: boundary touch counts as one overlap day") {
    import spark.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")
    // group (1,1): [01-01,01-11](q5), [01-08,01-13](q25), [02-01,02-07]
    // (q1) -> one 4-day overlap; group (1,2): [01-01,01-11](q30) and
    // [01-11,01-16](q25) touch on exactly one day
    val rows = Seq(
      (1L, 1, 1L, 1L, 5.0, ts("2024-01-01")),
      (1L, 2, 1L, 1L, 25.0, ts("2024-01-08")),
      (1L, 3, 1L, 1L, 1.0, ts("2024-02-01")),
      (2L, 1, 1L, 2L, 30.0, ts("2024-01-01")),
      (2L, 2, 1L, 2L, 25.0, ts("2024-01-11")))
    val dir = Tmp.dir("an_ivj").toString
    rows.toDF("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_quantity", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("interval_join")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (4L, 1L)))
  }
  test("bitmap_intersect: word AND/OR popcounts equal exact set algebra") {
    import spark.implicits._
    // viewers {1,63,100}, purchasers {63,100,200,201} spread across
    // words 0,1,3 → |V∩P| = 2, |V∪P| = 5, and the exact twins agree
    val rows = Seq((1L, "view"), (63L, "view"), (100L, "view"),
      (63L, "purchase"), (100L, "purchase"), (200L, "purchase"),
      (201L, "purchase"), (999L, "click")) // non-member type ignored
      .map { case (u, t0) => (1704067200000000L + u, u, t0, 1.0) }
    val dir = Tmp.dir("an_bmi").toString
    rows.toDF("us", "user_id", "event_type", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("bitmap_intersect")(spark, dir)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((2L, 5L, 2L, 5L)))
  }
  test("seq_patterns: existence quantifiers reduce to per-type extrema") {
    import spark.implicits._
    // u1: view,click,purchase in order; u2: click then view.
    // pairs: view>click (u1), click>view (u2), view>purchase (u1),
    // click>purchase (u1); only triple: view>click>purchase (u1);
    // single-occurrence types never support x>x
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$m%d:00")
    val rows = Seq(
      (ts(1), 1L, "view", 1.0), (ts(2), 1L, "click", 1.0),
      (ts(3), 1L, "purchase", 1.0),
      (ts(1), 2L, "click", 1.0), (ts(2), 2L, "view", 1.0))
    val dir = Tmp.dir("an_sq").toString
    rows.toDF("ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("seq_patterns")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (2L, "click>purchase", 1L), (2L, "click>view", 1L),
      (2L, "view>click", 1L), (2L, "view>purchase", 1L),
      (3L, "view>click>purchase", 1L)))
  }
}
