package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HyperLogLogAgg

/** HyperLogLog aggregator: the JVM bucket/rank matches the portable SQL
  * spelling, merge is max-wise (so partial aggregation is exact), and
  * estimates land within the expected error of the truth.
  */
class HyperLogLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("JVM bucket/rank equal the portable SQL spelling for arbitrary keys") {
    import spark.implicits._
    val keys = Seq("1", "42", "", "späßchen", "user-9971", "0")
    val df = keys.toDF("k")
    val x = conv(substring(md5(col("k").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val w = shiftright(x, 6) // exact integer div (col / 64 would go via double)
    val got = df.select(col("k"), pmod(x, lit(64L)).as("bucket"),
      (lit(55) - when(w === 0, 0)
        .otherwise(length(regexp_replace(conv(w, 10, 2), "^0+", ""))))
        .as("rho"))
      .collect()
    got.foreach { r =>
      val (b, rho) = HyperLogLogAgg.bucketRho(r.getString(0))
      assert(r.getLong(1) === b.toLong, s"bucket mismatch for ${r.getString(0)}")
      assert(r.getInt(2) === rho, s"rho mismatch for ${r.getString(0)}")
    }
  }

  test("merge of split partitions equals one-shot registers; estimate is sane") {
    val keys = (1 to 1000).map(i => s"user-$i")
    val agg = new HyperLogLogAgg()
    val whole = keys.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = keys.splitAt(400)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(whole.toSeq === merged.toSeq)

    import spark.implicits._
    val est = keys.toDF("k")
      .agg(org.apache.spark.sql.functions
        .udaf(new HyperLogLogAgg(), org.apache.spark.sql.Encoders.STRING)(col("k"))
        .as("regs"))
      .select(HyperLogLogAgg.estimate(col("regs")).as("est"))
      .head().getDouble(0)
    // sigma ≈ 1.04/sqrt(64) ≈ 13%; allow 3 sigma
    assert(math.abs(est - 1000.0) / 1000.0 < 0.4, s"estimate $est too far from 1000")
  }

  test("duplicates never move the estimate") {
    val agg = new HyperLogLogAgg()
    val once = Seq("a", "b", "c").foldLeft(agg.zero)(agg.reduce)
    val many = (Seq.fill(50)("a") ++ Seq.fill(9)("b") ++ Seq("c", "a", "b"))
      .foldLeft(agg.zero)(agg.reduce)
    assert(once.toSeq === many.toSeq)
  }

  test("hll_rollup: day-level sketches merged in-plan equal the one-shot sketch") {
    import spark.implicits._
    // day 1 sees users {1,2,3}, day 2 sees {2,3,4}: true distinct 4,
    // per-day distinct sum 6 — the rollup must count the overlap once
    // and land register-identical to the flat hll_distinct sketch.
    val day = 86400L * 1000000L
    val dir = Tmp.dir("hll_roll").toString
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (day + 1, 2L), (day + 2, 3L),
      (day + 3, 4L))
      .toDF("us", "user_id")
      .select(org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"),
        col("user_id"),
        org.apache.spark.sql.functions.lit("a").as("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val roll = SparkEntry.queries("hll_rollup")(spark, dir)
      .collect()(0)
    val flat = SparkEntry.queries("hll_distinct")(spark, dir)
      .collect()(0)
    assert(roll.getAs[Long]("n_days") === 2L)
    assert(roll.getAs[Long]("sum_day_distinct") === 6L)
    assert(roll.getAs[Long]("true_distinct") === 4L)
    // register-identical to the flat sketch: same weight, zeros, estimate
    assert(roll.getAs[Long]("reg_weight") === flat.getAs[Long]("reg_weight"))
    assert(roll.getAs[Int]("zero_regs") === flat.getAs[Int]("zero_regs"))
    assert(roll.getAs[Double]("est_distinct") === flat.getAs[Double]("est_distinct"))
  }

  test("rolling_hll_reach: window registers equal a one-shot sketch of the window") {
    import spark.implicits._
    // day 0: users {1,2}; day 1: {2,3}; day 2: {4} → 7-day windows
    // ending on observed days reach {1,2} / {1,2,3} / {1,2,3,4}
    val base = 1704067200L * 1000000L // 2024-01-01 UTC, micros
    val day = 86400L * 1000000L
    val dir = Tmp.dir("hll_reach").toString
    Seq((base + 1, 1L), (base + 2, 2L),
      (base + day + 1, 2L), (base + day + 2, 3L),
      (base + 2 * day + 1, 4L))
      .toDF("us", "user_id")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        lit("a").as("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("rolling_hll_reach")(spark, dir)
      .collect().map(r => r.getAs[Int]("d") -> r).toMap
    assert(out.keySet === Set(0, 1, 2))
    assert(out(0).getAs[Long]("true_reach") === 2L)
    assert(out(1).getAs[Long]("true_reach") === 3L)
    assert(out(2).getAs[Long]("true_reach") === 4L)
    // max-merge associativity: the day-2 window's registers must be
    // IDENTICAL to a one-shot sketch of its distinct users
    val agg = new HyperLogLogAgg()
    val oneShot = Seq("1", "2", "3", "4").foldLeft(agg.zero)(agg.reduce)
    val s = oneShot.map(r => 1L << (55 - r)).sum
    val zeros = oneShot.count(_ === 0)
    assert(out(2).getAs[Long]("reg_weight") === s)
    assert(out(2).getAs[Int]("zero_regs") === zeros)
    val raw = HyperLogLogAgg.alphaM2 * math.pow(2.0, 55) / s.toDouble
    val est = if (raw <= 160.0 && zeros > 0)
      64.0 * math.log(64.0 / zeros) else raw
    val est4 = BigDecimal(est)
      .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(out(2).getAs[Double]("est_reach") === est4)
  }

  test("hll_set_ops: exact witnesses and the inclusion–exclusion identity") {
    import spark.implicits._
    val dir = Tmp.dir("hll_set").toString
    // A = view users 1..10, B = purchase users 6..15 → |A∩B| = 5;
    // click rows must not leak into either sketch
    val rows =
      (1L to 10L).map(u => (u, "view")) ++
      (6L to 15L).map(u => (u, "purchase")) ++
      (100L to 120L).map(u => (u, "click"))
    rows.zipWithIndex.map { case ((u, et), i) => (i.toLong, u, et) }
      .toDF("us", "user_id", "event_type")
      .select(org.apache.spark.sql.functions
          .timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("hll_set_ops")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("true_a") === 10L)
    assert(r.getAs[Long]("true_b") === 10L)
    assert(r.getAs[Long]("true_intersect") === 5L)
    val (ea, eb, eu) = (r.getAs[Double]("est_a"),
      r.getAs[Double]("est_b"), r.getAs[Double]("est_union"))
    // small-range (linear-counting) regime: tight on 10–15 keys
    assert(math.abs(ea - 10.0) < 3.0 && math.abs(eb - 10.0) < 3.0)
    assert(math.abs(eu - 15.0) < 4.0)
    assert(eu <= ea + eb + 1e-9) // union never exceeds the sum
    val exp = BigDecimal(ea + eb - eu)
      .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(r.getAs[Double]("est_intersect") === exp)
  }
}
