package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-data semantics for the round-11 inference batch: every
  * expected value below is hand-derived from the closed-form statistic,
  * so a drift in the rank/moment/quantization arithmetic fails against
  * math, not against a recorded snapshot.
  */
class InferenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  /** 2024-01-01 00:00 UTC + d days + noon, in the events table's raw
    * nanosecond encoding (the l-diversity spec idiom).
    */
  private def ns(d: Int): Long =
    (1704067200L + d * 86400L + 43200L) * 1000000000L

  test("haar: integer pyramid over a 4-day-loaded 16-day grid") {
    // day counts 8,4,6,2,0,...: l1 details (4,4,0...), l2 (4,0...),
    // l3 (20,0), l4 detail 20, approx 20 (= total events, invariant)
    val ev = (0 until 8).map(i => (i.toLong, ns(0))) ++
      (8 until 12).map(i => (i.toLong, ns(1))) ++
      (12 until 18).map(i => (i.toLong, ns(2))) ++
      (18 until 20).map(i => (i.toLong, ns(3)))
    val dir = Tmp.dir("haar").toString
    ev.toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("haar_decompose")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val exp = Seq((4, 0, "approx", 20L)) ++
      Seq((1, 0, 4L), (1, 1, 4L), (2, 0, 4L), (3, 0, 20L), (4, 0, 20L))
        .map(t => (t._1, t._2, "detail", t._3)) ++
      (2 to 7).map(i => (1, i, "detail", 0L)) ++
      (1 to 3).map(i => (2, i, "detail", 0L)) ++ Seq((3, 1, "detail", 0L))
    assert(out.toSet === exp.toSet)
    assert(out.length === 16)
  }

  test("gini split: best threshold separates the pure right bin") {
    // bins (n, pos): b0 (2,1), b1 (1,1), b2 (2,0); nt=5, pt=2.
    // split ≤ b1 → left 2/3 impure, right pure: 400000·(2/3) = 266667;
    // split ≤ b0 → 400000·(1/2 + 2/3) = 466667.
    val orders = Seq((1L, 1L, 500.0), (2L, 1L, 1500.0), (3L, 2L, 500.0),
      (4L, 2L, 2500.0), (5L, 2L, 2600.0))
    val dir = Tmp.dir("gini").toString
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("gini_split")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 3L, 2L, 266667L), (0L, 2L, 1L, 466667L)))
  }

  test("conformal: k-th order-statistic threshold and test coverage") {
    // one segment; calibration prices $1..$19 on even keys → mean
    // 1000 cents, sorted residuals [0,100,100,...,900,900], n=19,
    // k = ⌈0.9·20⌉ = 18 → q = 900. Test: residuals 500, 1500, 0 →
    // covered 2/3.
    val cal = (1 to 19).map(i => (2L * i, 1L, i.toDouble))
    val tst = Seq((101L, 1L, 15.0), (103L, 1L, 25.0), (105L, 1L, 10.0))
    val dir = Tmp.dir("conf").toString
    (cal ++ tst).toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "A")).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("conformal_threshold")(spark, dir)
      .collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4)) === ((19L, 18L, 900L, 3L, 2L)))
    assert(out.getDouble(5) === 0.666667)
  }

  private def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    val dir = Tmp.dir("inf_ev").toString
    rows.toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("logistic irls step: closed-form betas on a two-point fixture") {
    // view@1.0 (t=−1), purchase@3.0 (t=+1): in micros sx=4e6, st=0,
    // sxx=1e13, sxt=2e6 → det=4e12, β0=2·(−8e12)/4e12=−4,
    // β1=2·4e6/4e12=2e−6/micro → 2.0/unit; η at x̄=2e6 is 0 → p=½
    val dir = eventsDir(Seq(
      (ns(0), 1L, "view", 1.0), (ns(0), 2L, "purchase", 3.0)))
    val out = SparkEntry.queries("logistic_irls_step")(
      spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(1) === -4.0)
    assert(r.getDouble(2) === 2.0)
    assert(r.getDouble(3) === 0.5)
  }

  test("holt_linear: fold matches the hand-replicated recurrence") {
    // daily counts 10, 12, 11, 15 (event multiplicity per day); the
    // expected trajectory is re-derived here with the SAME double ops
    // (init l=10 b=2; lp=0.5y+0.5(l+b); b'=0.3(lp−l)+0.7b)
    val rows = (Seq.fill(10)(0) ++ Seq.fill(12)(1) ++ Seq.fill(11)(2) ++
      Seq.fill(15)(3)).map(d => (ns(d), 1L, "view", 1.0))
    val dir = eventsDir(rows)
    var l = 10.0; var b = 12.0 - 10.0
    for (y <- Seq(12.0, 11.0, 15.0)) {
      val lp = 0.5 * y + 0.5 * (l + b)
      b = 0.3 * (lp - l) + 0.7 * b
      l = lp
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val out = SparkEntry.queries("holt_linear")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.toSeq === (1 to 7).map(h =>
      (h.toLong, r6(l), r6(b), r6(l + h.toDouble * b))))
  }

  test("mannwhitney_u: tied samples produce exact doubled-U and z") {
    // purchase values {1,2}, view values {2,3}: doubled avg ranks
    // 2/5/8, R1·2 = 7, U1·2 = 1, ties Σ(t³−t) = 6,
    // var = (4/12)·(5 − 6/12) = 1.5, z = (−3/2)/√1.5 = −1.224745
    val dir = eventsDir(Seq(
      (ns(0), 1L, "purchase", 1.0), (ns(0), 2L, "purchase", 2.0),
      (ns(0), 3L, "view", 2.0), (ns(0), 4L, "view", 3.0),
      (ns(0), 5L, "click", 99.0))) // non-member type must be ignored
    val r = SparkEntry.queries("mannwhitney_u")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n1") === 2L)
    assert(r.getAs[Long]("n2") === 2L)
    assert(r.getAs[Long]("u1_x2") === 1L)
    assert(r.getAs[Double]("z") === -1.224745)
  }

  test("mannwhitney_u: all values tied yields zero variance, NULL z") {
    val dir = eventsDir(Seq(
      (ns(0), 1L, "purchase", 5.0), (ns(0), 2L, "view", 5.0)))
    val r = SparkEntry.queries("mannwhitney_u")(spark, dir).collect()(0)
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("acf_daily: alternating series has r(1) = -0.9, r(2) = 0.8") {
    // x = 1,2,1,2,... over 10 consecutive days; exact integer moments
    // give num/den = −225/250 at lag 1 and 200/250 at lag 2
    val rows = (0 until 10).map(d =>
      (ns(d), d.toLong, "view", 0.0))
    val extra = (0 until 10).filter(_ % 2 == 1).map(d =>
      (ns(d), 100L + d, "click", 0.0))
    val dir = eventsDir(rows ++ extra)
    val out = SparkEntry.queries("acf_daily")(spark, dir).collect()
    val byLag = out.map(r => r.getAs[Long]("lag") ->
      (r.getAs[Long]("n_pairs"), r.getAs[Double]("r"))).toMap
    assert(byLag(1L) === ((9L, -0.9)))
    assert(byLag(2L) === ((8L, 0.8)))
    assert(byLag(7L)._1 === 3L)
  }

  test("acf_daily: constant series has zero denominator, NULL r") {
    val dir = eventsDir((0 until 5).map(d => (ns(d), d.toLong, "view", 0.0)))
    val out = SparkEntry.queries("acf_daily")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.isNullAt(2)))
  }

  test("cusum_changepoint: level shift peaks at the last pre-shift day") {
    // 1,1,1,5,5,5: n·S_t = −12,−24,−36,−24,−12,0 — peak |−36| at the
    // last pre-shift day → day 3 (index 2), statistic −36/6 = −6
    val rows = Seq(0, 1, 2).map(d => (ns(d), d.toLong, "view", 0.0)) ++
      Seq(3, 4, 5).flatMap(d => (0 until 5).map(i =>
        (ns(d), (10 * d + i).toLong, "view", 0.0)))
    val dir = eventsDir(rows)
    val r = SparkEntry.queries("cusum_changepoint")(spark, dir).collect()(0)
    assert(r.getAs[String]("change_day") === "2024-01-03")
    assert(r.getAs[Long]("n_days") === 6L)
    assert(r.getAs[Double]("cusum") === -6.0)
  }

  test("theilsen_trend: a perfectly linear series recovers the slope") {
    // x_d = 3·d + 10 events on day d: every pairwise slope is exactly 3
    val rows = (0 until 6).flatMap(d => (0 until 3 * d + 10).map(i =>
      (ns(d), (100 * d + i).toLong, "view", 0.0)))
    val dir = eventsDir(rows)
    val r = SparkEntry.queries("theilsen_trend")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_pairs") === 15L)
    assert(r.getAs[Double]("slope_per_day") === 3.0)
  }

  private def ordersDir(rows: Seq[(Long, String, String)]): String = {
    val dir = Tmp.dir("inf_ord").toString
    rows.toDF("o_custkey", "o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("mutual_info: a deterministic pairing scores exactly ln 2, NMI 1") {
    val dir = ordersDir(Seq(
      (1L, "F", "1-URGENT"), (2L, "F", "1-URGENT"),
      (3L, "O", "2-HIGH"), (4L, "O", "2-HIGH")))
    val r = SparkEntry.queries("mutual_info")(spark, dir).collect()(0)
    assert(r.getAs[Long]("levels_x") === 2L)
    assert(r.getAs[Long]("levels_y") === 2L)
    assert(r.getAs[Double]("mi_nats") === 0.693147)
    assert(r.getAs[Double]("nmi") === 1.0)
  }

  test("mutual_info: independent uniform margins score exactly zero") {
    val dir = ordersDir(for {
      s <- Seq("F", "O"); p <- Seq("1-URGENT", "2-HIGH")
    } yield (1L, s, p))
    val r = SparkEntry.queries("mutual_info")(spark, dir).collect()(0)
    assert(r.getAs[Double]("mi_nats") === 0.0)
    assert(r.getAs[Double]("nmi") === 0.0)
  }

  test("set_ops_all: multiset semantics count duplicates") {
    // urgent custkeys {1,1,2}, F custkeys {1,3}:
    // INTERSECT ALL → {1} (min multiplicity), EXCEPT ALL → {1,2}
    val dir = ordersDir(Seq(
      (1L, "O", "1-URGENT"), (1L, "P", "1-URGENT"), (2L, "O", "1-URGENT"),
      (1L, "F", "3-MEDIUM"), (3L, "F", "3-MEDIUM")))
    val r = SparkEntry.queries("set_ops_all")(spark, dir).collect()(0)
    assert(r.getAs[Long]("both_all_cnt") === 1L)
    assert(r.getAs[Long]("only_urgent_all_cnt") === 2L)
  }

  test("containment_neardup: finds the quoted doc Jaccard would miss") {
    // doc 2 embeds doc 1's full text inside much longer padding:
    // containment(1→2) = 1.0 while Jaccard stays far below 0.8, and
    // the reverse direction (2→1) must NOT appear. Doc 3 is unrelated.
    val quote = "alpha beta gamma delta epsilon zeta"
    val pad = (1 to 40).map(i => s"filler$i").mkString(" ")
    val dir = Tmp.dir("inf_doc").toString
    Seq((1L, quote), (2L, s"$pad $quote"), (3L, "one two three four five"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("containment_neardup")(spark, dir).collect()
    assert(out.length === 1)
    val r = out(0)
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) === ((1L, 2L)))
    assert(r.getAs[Long]("inter") === 4L) // 4 trigrams over 6 tokens
    assert(r.getAs[Double]("containment") === 1.0)
  }

  test("adamic_adar: rare shared parts outweigh common ones") {
    // p1 shared by s1,s2,s3 (deg 3); p2 shared by s1,s2 (deg 2):
    // score(1,2) = 1/ln2 + 1/ln3, score(1,3) = score(2,3) = 1/ln3
    val dir = Tmp.dir("inf_li").toString
    Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (2L, 20L))
      .toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("adamic_adar")(spark, dir).collect()
    assert(out.length === 3)
    assert((out(0).getAs[Long]("sa"), out(0).getAs[Long]("sb")) === ((1L, 2L)))
    assert(out(0).getAs[Long]("n_common") === 2L)
    assert(out(0).getAs[Double]("aa_score") === 2.352934)
    assert(out(1).getAs[Double]("aa_score") === 0.910239)
    // score tie between (1,3) and (2,3) breaks on (sa, sb)
    assert((out(1).getAs[Long]("sa"), out(1).getAs[Long]("sb")) === ((1L, 3L)))
    assert((out(2).getAs[Long]("sa"), out(2).getAs[Long]("sb")) === ((2L, 3L)))
  }

  test("als_step: Cramer solve of the 2x2 ridge normal equations") {
    val dir = Tmp.dir("inf_als").toString
    // item factors: partkey 3 -> (0,1), 10 -> (0,-2), 4 -> (1,2)
    // user 1: a=(2,2,10), b=(10,20), det=16 -> x=(3.75, 1.25)
    // user 2: a=(2,2,5),  b=(8,16),  det=6  -> x=(4/3, 8/3)
    Seq((1L, 3L, 4.0), (1L, 10L, 2.0), (1L, 4L, 10.0), (2L, 4L, 8.0))
      .toDF("l_suppkey", "l_partkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("als_step")(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("a11"), r.getAs[Long]("a12"), r.getAs[Long]("a22"),
        r.getAs[Long]("b1"), r.getAs[Long]("b2"),
        r.getAs[Double]("x1"), r.getAs[Double]("x2")))).toMap
    assert(out(1L) === ((3L, 2L, 2L, 10L, 10L, 20L, 3.75, 1.25)))
    assert(out(2L) === ((1L, 2L, 2L, 5L, 8L, 16L, 1.333333, 2.666667)))
  }

  test("quantile_align: lower quantiles on the grid, exact rank cuts") {
    val dir = Tmp.dir("inf_qa").toString
    // a: 1..10 micros -> q10/50/90 = 1/5/9; b: 11..20 -> 11/15/19;
    // pooled 1..20 -> 2/10/18
    val rows = (1 to 10).map(k => ("a", k * 1e-6)) ++
      (11 to 20).map(k => ("b", k * 1e-6))
    rows.toDF("event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("quantile_align")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> ((r.getAs[Long]("q10"),
        r.getAs[Long]("q50"), r.getAs[Long]("q90"), r.getAs[Long]("g10"),
        r.getAs[Long]("g50"), r.getAs[Long]("g90"),
        r.getAs[Long]("shift50_micros")))).toMap
    assert(out("a") === ((1L, 5L, 9L, 2L, 10L, 18L, -5L)))
    assert(out("b") === ((11L, 15L, 19L, 2L, 10L, 18L, 5L)))
  }

  test("weighted_median: cumulative weight clears the ceil(W/2) cut") {
    val dir = Tmp.dir("inf_wm").toString
    // A: 100c at weight 100, 200c at weight 300 -> W=400, cut 200,
    //    cum(100c)=100 < 200, cum(200c)=400 -> median 200c
    // B: single price is its own median
    Seq(("A", 1.00, 1.00), ("A", 2.00, 3.00), ("B", 5.00, 2.00))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("weighted_median")(spark, dir).collect()
      .map(r => r.getAs[String]("g") -> ((r.getAs[Long]("total_weight"),
        r.getAs[Long]("n_prices"), r.getAs[Long]("wmedian_cents"))))
      .toMap
    assert(out("A") === ((400L, 2L, 200L)))
    assert(out("B") === ((200L, 1L, 500L)))
  }

  test("durbin_watson: linear ramp residuals give DW exactly 1.0") {
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("inf_dw").toString
    // daily sums 1,2,3 micros -> scaled residuals -3,0,3:
    // num = 9+9 = 18, den = 9+0+9 = 18 -> DW = 1.0
    val day = 86400000000L
    Seq((1L, 1e-6), (day + 1, 2e-6), (2 * day + 1, 3e-6))
      .toDF("us", "value")
      .select(timestamp_micros(col("us")).as("ts"),
        lit("a").as("event_type"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("durbin_watson")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_days") === 3L)
    assert(r.getAs[Double]("dw") === 1.0)
  }

  test("permutation_test: p-value arithmetic and determinism") {
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("inf_pt").toString
    (1 to 40).map(u => (u.toLong * 1000000L, u.toLong,
        (u % 7).toDouble * 1e-6))
      .toDF("us", "user_id", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("value"))
      .write.parquet(s"$dir/events.parquet")
    val run1 = SparkEntry.queries("permutation_test")(spark, dir)
      .collect()(0)
    val run2 = SparkEntry.queries("permutation_test")(spark, dir)
      .collect()(0)
    assert(run1.toSeq === run2.toSeq) // md5 permutations, no rand()
    assert(run1.getAs[Long]("n_perms") === 63L)
    val nGe = run1.getAs[Long]("n_ge")
    assert(nGe >= 0L && nGe <= 63L)
    val p = BigDecimal((nGe + 1).toDouble / 64.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(run1.getAs[Double]("p_value") === p)
    assert(run1.getAs[Double]("obs_diff_micros") >= 0.0)
  }

  test("kendall_tau: hand-counted concordance with a y-tie correction") {
    // daily (x,y): (2,2),(3,2),(1,1),(4,4) → of 6 pairs, 5 concordant,
    // 0 discordant, 1 y-tie pair (d0,d1); n0=6, n1=0, n2=1 →
    // τ-b = 5/√(6·5) = 0.912871
    val dir = eventsDir(Seq(
      (ns(0), 1L, "view", 1.0), (ns(0), 2L, "view", 1.0),
      (ns(1), 1L, "view", 1.0), (ns(1), 1L, "view", 1.0),
      (ns(1), 2L, "view", 1.0),
      (ns(2), 5L, "view", 1.0),
      (ns(3), 1L, "view", 1.0), (ns(3), 2L, "view", 1.0),
      (ns(3), 3L, "view", 1.0), (ns(3), 4L, "view", 1.0)))
    val out = SparkEntry.queries("kendall_tau")(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 5L, 0L)))
    assert(r.getDouble(3) === 0.912871)
  }

  test("runs_test: alternating days give R=6 and the exact z") {
    // counts 5,1,5,1,5,1 (mean 3, no day at it): signs A,B,A,B,A,B →
    // 6 runs, n1=n2=3, μ=4, σ²=2·9·(18−6)/(36·5)=1.2 →
    // z = 2/√1.2 = 1.825742
    val rows = (0 until 6).flatMap { d =>
      val x = if (d % 2 == 0) 5 else 1
      (0 until x).map(i => (ns(d), i.toLong, "view", 1.0))
    }
    val out = SparkEntry.queries("runs_test")(spark, eventsDir(rows))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 3L, 6L)))
    assert(r.getDouble(3) === 1.825742)
  }

  test("isotonic: the 1.0→0.0 violation pools all three bins to 0.5") {
    // bins (n,k): b0 (4,2) rate .5, b1 (2,2) rate 1, b2 (2,0) rate 0;
    // PAVA pools b1..b2 to .5, then b0 joins: fit = (.5,.5,.5) — each
    // verified against the minimax identity by hand
    val rows = Seq.fill(2)((10000.0, "1-URGENT")) ++
      Seq.fill(2)((10000.0, "5-LOW")) ++
      Seq.fill(2)((40000.0, "1-URGENT")) ++
      Seq.fill(2)((70000.0, "5-LOW"))
    val dir = Tmp.dir("inf_iso").toString
    rows.toDF("o_totalprice", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("isotonic_calibration")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq === Seq((0L, 4L, 2L, 0.5, 0.5),
      (1L, 2L, 2L, 1.0, 0.5), (2L, 2L, 0L, 0.0, 0.5)))
    // the theorem gate on real data: the fit is nondecreasing in bin
    val sf = "/root/testdata/sf0.001"
    if (new java.io.File(s"$sf/orders.parquet").exists()) {
      val iso = SparkEntry.queries("isotonic_calibration")(spark, sf)
        .collect().map(_.getDouble(4))
      assert(iso.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("user_diversity: Simpson index is exact per mix, no ln anywhere") {
    // u1 all-view → D=0; u2 2+2 → D=.5; u3 four distinct types → D=.75
    val rows =
      (0 until 4).map(i => (ns(i), 1L, "view", 1.0)) ++
      Seq((ns(0), 2L, "view", 1.0), (ns(1), 2L, "view", 1.0),
        (ns(2), 2L, "click", 1.0), (ns(3), 2L, "click", 1.0)) ++
      Seq((ns(0), 3L, "view", 1.0), (ns(1), 3L, "click", 1.0),
        (ns(2), 3L, "purchase", 1.0), (ns(3), 3L, "signup", 1.0))
    val out = SparkEntry.queries("user_diversity")(spark, eventsDir(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 1L), (50L, 1L), (75L, 1L)))
  }

  test("burstiness: clockwork pins -10; a bursty user matches the chain") {
    // u1: three identical 10-second gaps → σ=0 → B=-1 → bucket -10.
    // u2: gaps (1, 1, 1e6) µs; expected bucket re-derives the chain
    val u1 = (0 until 4).map(i =>
      (ns(0) + i.toLong * 10000000000L, 1L, "view", 1.0))
    val offs = Seq(0L, 1000L, 2000L, 1000000000000L + 2000L)
    val u2 = offs.map(o => (ns(1) + o, 2L, "view", 1.0))
    val (ng, sg, qg) = (BigInt(3), BigInt(1000002),
      BigInt(1) + 1 + BigInt(1000000) * 1000000)
    val disc = (ng * qg - sg * sg).toDouble
    val b = (math.sqrt(disc) - sg.toDouble) /
      (math.sqrt(disc) + sg.toDouble)
    val exp2 = BigDecimal(b * 10.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toLong
    val out = SparkEntry.queries("burstiness")(spark,
      eventsDir(u1 ++ u2)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((-10L, 1L), (exp2, 1L)).sortBy(_._1))
  }

  test("rolling_regression: an exact linear series has slope 2 everywhere") {
    // x_t = 2t + 3 for 20 days: every full 14-day window regresses to
    // slope exactly 2.0; the 13 warm-up days stay silent
    val rows = (0 until 20).flatMap { d =>
      val x = 2 * (d + 1) + 3
      (0 until x).map(i => (ns(d), i.toLong, "view", 1.0))
    }
    val out = SparkEntry.queries("rolling_regression")(
      spark, eventsDir(rows)).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(out.length === 7)
    assert(out.head._1 === "2024-01-14")
    assert(out.last._1 === "2024-01-20")
    assert(out.forall(_._2 === 2.0))
  }

  test("cuped_adjust: a perfect covariate flattens every arm to the grand mean") {
    // y = 2x + 6 exactly (pre day 0, post day 20, cut = day0+15):
    // θ = 2, ρ² = 1 → 100% variance reduction, and EVERY arm's CUPED
    // mean collapses to the grand mean 16 regardless of how the md5
    // split assigns the four users
    val x = Seq(2.0, 4.0, 6.0, 8.0)
    val rows = x.zipWithIndex.flatMap { case (xv, i) =>
      Seq((ns(0), (i + 1).toLong, "view", xv),
        (ns(20), (i + 1).toLong, "view", 2 * xv + 6))
    }
    val out = SparkEntry.queries("cuped_adjust")(spark, eventsDir(rows))
      .collect()
    assert(out.map(_.getLong(1)).sum === 4L)
    out.foreach { r =>
      assert(r.getDouble(3) === 16.0) // cuped_mean
      assert(r.getDouble(4) === 2.0) // theta
      assert(r.getDouble(5) === 100.0) // var_reduction_pct
    }
  }

  test("ridge_regression: matches the hand-replicated Cramer chain") {
    import org.apache.spark.sql.functions._
    // five lines; the expected coefficients re-derive below with the
    // SAME exact moments and the SAME double chain (per-feature
    // λ = A_ii/1000), so shrink arithmetic fails against math
    val rows = Seq((1L, 0.0, 100.0), (2L, 0.0, 200.0),
      (1L, 0.10, 90.0), (2L, 0.10, 190.0), (3L, 0.05, 290.0))
    val dir = Tmp.dir("inf_rr").toString
    rows.toDF("l_quantity", "l_discount", "l_extendedprice")
      .select(col("l_quantity").cast("double").as("l_quantity"),
        col("l_discount"), col("l_extendedprice"))
      .write.parquet(s"$dir/lineitem.parquet")
    val q = rows.map(_._1)
    val d = rows.map(t => math.rint(t._2 * 1000000).toLong)
    val y = rows.map(t => math.rint(t._3 * 100).toLong)
    val n = BigInt(rows.size)
    def sum2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x0, y0) => BigInt(x0) * y0 }.sum
    val (s1, s2, sy) = (BigInt(q.sum), BigInt(d.sum), BigInt(y.sum))
    val a11 = (n * sum2(q, q) - s1 * s1).toDouble
    val a22 = (n * sum2(d, d) - s2 * s2).toDouble
    val a12 = (n * sum2(q, d) - s1 * s2).toDouble
    val b1 = (n * sum2(q, y) - s1 * sy).toDouble
    val b2 = (n * sum2(d, y) - s2 * sy).toDouble
    val (r11, r22) = (a11 + a11 / 1000.0, a22 + a22 / 1000.0)
    val detR = r11 * r22 - a12 * a12
    val det0 = a11 * a22 - a12 * a12
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val out = SparkEntry.queries("ridge_regression")(spark, dir)
      .collect()(0)
    assert(out.getLong(0) === 5L)
    assert(out.getDouble(1) === r6((r22 * b1 - a12 * b2) / detR / 100.0))
    assert(out.getDouble(2) === r6((r11 * b2 - a12 * b1) / detR * 10000.0))
    assert(out.getDouble(3) === r6((a22 * b1 - a12 * b2) / det0 / 100.0))
    assert(out.getDouble(4) === r6((a11 * b2 - a12 * b1) / det0 * 10000.0))
    // ridge shrinks the solve toward zero on this fixture
    assert(math.abs(out.getDouble(1)) < math.abs(out.getDouble(3)))
  }

  test("cross_corr: a shifted proportional series is perfect at its lag") {
    // views d0..d2 = 1,2,3; purchases d1..d3 = 2,4,6 (2× views, +1 day):
    // every lag with ≥2 pairs correlates exactly 1.0; single-pair lags
    // (−1, +3) have zero variance → null r; empty lags emit no row
    val rows =
      (0 until 1).map(i => (ns(0), i.toLong, "view", 1.0)) ++
      (0 until 2).map(i => (ns(1), i.toLong, "view", 1.0)) ++
      (0 until 3).map(i => (ns(2), i.toLong, "view", 1.0)) ++
      (0 until 2).map(i => (ns(1), 100L + i, "purchase", 1.0)) ++
      (0 until 4).map(i => (ns(2), 100L + i, "purchase", 1.0)) ++
      (0 until 6).map(i => (ns(3), 100L + i, "purchase", 1.0))
    val out = SparkEntry.queries("cross_corr")(spark, eventsDir(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq === Seq(
      (-1L, 1L, None), (0L, 2L, Some(1.0)), (1L, 3L, Some(1.0)),
      (2L, 2L, Some(1.0)), (3L, 1L, None)))
  }

  test("period_scan: a planted weekly cycle saturates p=7 and p=14 only") {
    // 28 days, x = 10 on t≡0 (mod 7) else 1: folding by 7 (and its
    // multiple 14) explains ALL variance → r2 = 1; p=2 splits the
    // spikes evenly → r2 = 0; every other period stays strictly below 1
    val rows = (0 until 28).flatMap { d =>
      val x = if (d % 7 == 0) 10 else 1
      (0 until x).map(i => (ns(d), i.toLong, "view", 1.0))
    }
    val out = SparkEntry.queries("period_scan")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size === 13)
    assert(out(7L) === 1.0)
    assert(out(14L) === 1.0)
    assert(out(2L) === 0.0)
    assert((2L to 14L).filterNot(p => p == 7 || p == 14)
      .forall(p => out(p) < 1.0))
  }

  test("hurst_rs: a strict alternation pins R/S = 1 at every size, H = 0") {
    // x = 1,3,1,3,… for 64 days: every block's cusum bounces between
    // −m and 0 in m-units (rm = m), den = m·ssq − S² = m² → R/S = 1
    // exactly at m = 4/8/16, so the log-log slope H is exactly 0
    val rows = (0 until 64).flatMap { d =>
      val x = if (d % 2 == 0) 1 else 3
      (0 until x).map(i => (ns(d), i.toLong, "view", 1.0))
    }
    val out = SparkEntry.queries("hurst_rs")(spark, eventsDir(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq((4L, 16L, 1.0, 0.0), (8L, 8L, 1.0, 0.0),
      (16L, 4L, 1.0, 0.0)))
  }

  test("matrix_profile: a planted repeat is its own zero-distance motif") {
    // 14 days, counts 1..7,1..7: q=8 subsequences; only (i=1, j=8)
    // clears the 7-day exclusion zone and they are IDENTICAL → the
    // profile is exactly two rows at distance 0; i=2..7 have no
    // admissible neighbor and stay silent
    val rows = (0 until 14).flatMap { d =>
      val x = d % 7 + 1
      (0 until x).map(i => (ns(d), i.toLong, "view", 1.0))
    }
    val out = SparkEntry.queries("matrix_profile")(spark, eventsDir(rows))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      ("2024-01-01", "2024-01-08", 0.0),
      ("2024-01-08", "2024-01-01", 0.0)))
  }
}
