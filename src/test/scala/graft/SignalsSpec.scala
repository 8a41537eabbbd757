package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Ranking, TextAnalysis}

/** Round-8 (cont.) operator tests on hand-computable fixtures: EWMA
  * weight arithmetic, feature-hash invariants, bigram-LM closed forms,
  * and — the one that matters — prefix-filter LOSSLESSNESS against a
  * brute-force all-pairs Jaccard on a planted near-dup corpus.
  */
class SignalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("ewma: third observation weights 4:2:1 over values 8, 4, 2") {
    import spark.implicits._
    // one user, three purchases in ts order; α=0.5 ⇒ weights at row 3
    // are 1, ½, ¼ over (newest→oldest) = values 2, 4, 8:
    // ewma = (1·2 + ½·4 + ¼·8) / (1 + ½ + ¼) = 6/1.75
    val ev = Seq(
      (1L, 101L, 1000L, 8.0, "purchase"),
      (1L, 102L, 2000L, 4.0, "purchase"),
      (1L, 103L, 3000L, 2.0, "purchase"),
      (1L, 104L, 4000L, 99.0, "view"))
      .toDF("user_id", "event_id", "ts", "value", "event_type")
    val dir = Tmp.dir("sig_ewma").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ewma_smooth")(spark, dir).collect()
    assert(out.length === 3, "view events are excluded")
    val r3 = out.find(_.getAs[Int]("rn") == 3).get
    assert(math.abs(r3.getAs[Double]("ewma") - 6.0 / 1.75) < 1e-5)
    // den_64 at row 3: 64 + 32 + 16 (offsets 0,1,2 present)
    assert(r3.getAs[Long]("den_64") === 112L)
    // row 1 sees only itself: ewma = value exactly
    val r1 = out.find(_.getAs[Int]("rn") == 1).get
    assert(math.abs(r1.getAs[Double]("ewma") - 8.0) < 1e-5)
    assert(r1.getAs[Long]("den_64") === 64L)
  }

  test("feature hash: occurrences total the token count; buckets follow the recipe") {
    val d = docs(1L -> "alpha beta alpha", 2L -> "beta gamma")
    val out = TextAnalysis.featureHashHistogram(d, dims = 64L).collect()
    assert(out.map(_.getAs[Long]("occurrences")).sum === 5L)
    assert(out.map(_.getAs[Long]("distinct_terms")).sum >= 3L)
    // every bucket matches the shared md5 recipe recomputed in the JVM
    val bucketOf = (term: String) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val byBucket = out.map(r =>
      r.getAs[Long]("bucket") -> r.getAs[Long]("occurrences")).toMap
    val expected = Seq("alpha", "alpha", "beta", "beta", "gamma")
      .groupBy(bucketOf).map { case (b, ts) => b -> ts.size.toLong }
    assert(byBucket === expected)
    // signs are ±1: |signed_sum| ≤ occurrences, same parity
    out.foreach { r =>
      val (o, s) = (r.getAs[Long]("occurrences"), r.getAs[Long]("signed_sum"))
      assert(math.abs(s) <= o && (o - s) % 2 == 0)
    }
  }

  test("bigram LM: deterministic transition scores a doc by ln of its chain") {
    // corpus: "a b" ×3 and "a c" ×1 as separate docs.
    // c(a)=4, c(b)=3, c(c)=1, N=8; c(ab)=3, c(ac)=1.
    // lp(ab) = ln(0.9·3/4 + 0.1·3/8); lp(ac) = ln(0.9·1/4 + 0.1·1/8)
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "a b", 4L -> "a c")
    val out = Ranking.bigramDocLogprob(d, lambda = 0.9, k = 10).collect()
    val lpAb = math.log(0.9 * 3.0 / 4.0 + 0.1 * 3.0 / 8.0)
    val lpAc = math.log(0.9 * 1.0 / 4.0 + 0.1 * 1.0 / 8.0)
    val byDoc = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(math.abs(byDoc(1L) - lpAb) < 1e-5)
    assert(math.abs(byDoc(4L) - lpAc) < 1e-5)
    // the rare transition ranks as MORE surprising (lower logprob, first)
    assert(out.head.getAs[Long]("doc_id") === 4L)
  }

  test("winsorize: clipping bounds the outlier's influence exactly") {
    import spark.implicits._
    // 21 values: 1..20 and one outlier 1000. p05 = 2.0, p95 = 20.0
    // (pos = .05·20 = 1 / .95·20 = 19, both integral — no interp).
    // clipped: 1→2, 1000→20 ⇒ mean = (2 + 2..20 sum + 20)/21
    val d = ((1L to 20L) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "en", v) }
      .toDF("doc_id", "lang", "n_chars")
    val dir = Tmp.dir("sig_win").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("winsorize")(spark, dir).collect()(0)
    assert(r.getAs[Double]("lo") === 2.0 && r.getAs[Double]("hi") === 20.0)
    assert(r.getAs[Long]("clipped_low") === 1L)
    assert(r.getAs[Long]("clipped_high") === 1L)
    val expected = (2.0 + (2 to 20).sum + 20.0) / 21.0
    assert(math.abs(r.getAs[Double]("winsorized_mean") - expected) < 1e-5)
  }

  test("weighted sample: ranks match the A-res key recomputed in the JVM") {
    val d = docs((1L to 50L).map(i => i -> s"doc number $i body"): _*)
      .withColumn("n_chars", col("doc_id") * 10) // weights 10..500
    val dir = Tmp.dir("sig_ws").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("weighted_sample")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    def key(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ws:$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(7), 16)
      val u = (h + 0.5) / 268435456.0
      math.rint(math.log(u) / (id * 10.0) * 1e9).toLong
    }
    val expected = (1L to 50L).sortBy(id => (-key(id), id)).take(20)
    assert(out === expected)
  }

  test("triangle count: a planted 3-clique with support-2 edges closes once") {
    import spark.implicits._
    // parts 1,2,3 pairwise co-occur in TWO orders each; part 9 pairs
    // with 1 in only one order (support 1 → edge dropped)
    val rows = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), (100L, 9L),
      (200L, 1L), (200L, 2L), (200L, 3L))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val dir = Tmp.dir("sig_tri").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("triangle_count")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("edges") === 3L)     // (1,2)(1,3)(2,3)
    assert(r.getAs[Long]("wedges") === 3L)    // C(2,2)·3 vertices
    assert(r.getAs[Long]("triangles") === 1L)
    assert(r.getAs[Long]("clustering_micros") === 1000000L) // 3·1/3
  }

  test("top journeys: opening sequences count users, order is by event time") {
    import spark.implicits._
    // user 1: view>click>purchase; user 2: view>click>purchase (same
    // path); user 3: error only (1-event path); later events ignored
    val ev = Seq(
      (1L, 1L, 1000L, "view"), (1L, 2L, 2000L, "click"),
      (1L, 3L, 3000L, "purchase"), (1L, 4L, 4000L, "view"),
      (2L, 5L, 1000L, "view"), (2L, 6L, 2000L, "click"),
      (2L, 7L, 3000L, "purchase"),
      (3L, 8L, 1000L, "error"))
      .toDF("user_id", "event_id", "ts", "event_type")
      .withColumn("value", lit(1.0))
    val dir = Tmp.dir("sig_tj").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("top_journeys")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out === Seq("view>click>purchase" -> 2L, "error" -> 1L))
  }

  test("profile table: nulls, distincts, and canonical bounds per column") {
    import spark.implicits._
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(d: Int) = new java.sql.Timestamp(day0.getTime + d * 86400000L)
    val o = Seq(
      (1L, Some(10L), "O", 10.5, "1-URGENT", ts(0)),
      (2L, None, "F", 99.99, "3-MEDIUM", ts(5)),
      (3L, Some(20L), "O", 5.0, "3-MEDIUM", ts(2)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate")
    val dir = Tmp.dir("sig_pt").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("profile_table")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(rows("o_custkey") === ((1L, 2L, "10", "20")))
    assert(rows("o_totalprice") === ((0L, 3L, "5.00", "99.99")))
    assert(rows("o_orderdate") === ((0L, 3L, "0", "5")))
    assert(rows("o_orderstatus") === ((0L, 2L, "F", "O")))
  }

  test("decayed sum: half-life weights are exact powers of two of event age") {
    import spark.implicits._
    // one user, purchases of value 64 at days 0, 7, 14; ref = day 14
    // decayed = 64·2^-2 + 64·2^-1 + 64·2^0 = 16 + 32 + 64 = 112
    def ts(d: Int) = (d * 86400L + 1) * 1000000000L // ns, inside day d
    val ev = Seq((1L, 101L, ts(0), 64.0, "purchase"),
      (1L, 102L, ts(7), 64.0, "purchase"),
      (1L, 103L, ts(14), 64.0, "purchase"),
      (2L, 104L, ts(14), 1.0, "view"))
      .toDF("user_id", "event_id", "ts", "value", "event_type")
    val dir = Tmp.dir("sig_ds").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("decayed_sum")(spark, dir).collect()
    assert(r.length === 1 && r(0).getAs[Long]("user_id") === 1L)
    assert(r(0).getAs[Long]("n_events") === 3L)
    assert(r(0).getAs[Long]("decayed_micros") === 112L * 1000000L)
  }

  test("negative sampling: pair totals and recipe parity on a dense id space") {
    val d = docs((0L to 19L).map(i => i -> s"doc $i"): _*)
    val dir = Tmp.dir("sig_ns").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("negative_sample")(spark, dir)
      .collect()
    // single lang ("en") fixture → one matrix cell; total pairs =
    // 20 docs × 3 slots − self-collisions, recomputed with the recipe
    def partner(i: Int, id: Long): Long = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"neg:$i:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(7), 16)
      h % 20
    }
    val expected = (for { id <- 0L to 19L; i <- 0 to 2 }
      yield partner(i, id)).zip(
        for { id <- 0L to 19L; _ <- 0 to 2 } yield id)
      .count { case (p, id) => p != id }
    assert(out.length === 1)
    assert(out(0).getAs[String]("lang") === "en")
    assert(out(0).getAs[Long]("pairs") === expected.toLong)
  }

  test("bfs levels: a planted path graph yields exact hop counts") {
    import spark.implicits._
    // chain: s1 - p10 - s2 - p20 - s3  (seed = s1, min suppkey)
    // levels: 0:{s1} 1:{p10} 2:{s2} 3:{p20} 4:{s3}
    val li = Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L))
      .toDF("l_suppkey", "l_partkey")
    val dir = Tmp.dir("sig_bfs").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("bfs_levels")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
  }

  test("bfs levels: exhausted frontier exits the schedule early") {
    import spark.implicits._
    // single edge s1 - p1: level 1 exhausts the graph; round 2's empty
    // frontier must stop the 4-round schedule (rounds == 1 expansions)
    val dir = Tmp.dir("sig_bfs_ee").toString
    Seq((1L, 1L)).toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val (res, rounds) = graft.queries.Signals.bfsLevels(spark, dir)
    assert(res.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      === Map(0 -> 1L, 1 -> 1L))
    assert(rounds === 1)
  }

  test("ktruss: lone triangle and pendant edge peel; K4 is the 4-truss") {
    import spark.implicits._
    // co-purchase graph: K4 on parts 1-4 (each edge in 2 triangles),
    // a lone triangle 7-8-9 (each edge in 1), an edge 5-6 (in 0).
    // Round 1 census sees 5 triangles, then peels to K4's 6 edges;
    // rounds 2-3 fixpoint at (4 triangles, 6 edges).
    val li = (Seq(101L, 102L).flatMap(o => (1L to 4L).map(p => (o, p))) ++
      Seq(201L, 202L).flatMap(o => (7L to 9L).map(p => (o, p))) ++
      Seq(301L, 302L).flatMap(o => Seq((o, 5L), (o, 6L))))
      .toDF("l_orderkey", "l_partkey")
    val dir = Tmp.dir("truss").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("ktruss_edges")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, 5L, 6L), (2, 4L, 6L), (3, 4L, 6L)))
  }

  test("ams f2: exact self-join size and brute-force sketch agreement") {
    import spark.implicits._
    // keys a,a,b → F2 = 2² + 1² = 5; the sketch sum is recomputed
    // against a plain-Scala walk of the same md5-parity sign hashes
    val li = Seq(7L, 7L, 9L).toDF("l_partkey")
    val dir = Tmp.dir("ams").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def sign(j: Int, k: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ams$j:$k".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        h.take(4).map("%02x".format(_)).mkString.take(7), 16) % 2 * 2 - 1
    }
    val expSum8 = (0 until 8).map { j =>
      val s = Seq("7", "7", "9").map(sign(j, _)).sum
      s * s
    }.sum
    val out = SparkEntry.queries("ams_f2_sketch")(spark, dir).collect()(0)
    assert(out.getLong(0) === 5L)
    assert(out.getLong(1) === expSum8)
    assert(out.getDouble(2) === expSum8 / 8.0)
  }

  test("shapley attribution: exact 3-channel values on a lattice fixture") {
    import spark.implicits._
    // converted masks: u1 view(1), u2 click(2), u3 view+click(3),
    // u4 all(7), u6 none(0 baseline); u5 views but never converts.
    // Hand Shapley: φ_view = φ_click = 11/6, φ_signup = 2/6, and
    // Σφ = 4 = v(full)−v(∅) (efficiency).
    val ev = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "purchase"),
      (2L, 3L, 10L, "click"), (2L, 4L, 20L, "purchase"),
      (3L, 5L, 10L, "view"), (3L, 6L, 15L, "click"),
      (3L, 7L, 20L, "purchase"),
      (4L, 8L, 10L, "view"), (4L, 9L, 12L, "click"),
      (4L, 10L, 14L, "signup"), (4L, 11L, 20L, "purchase"),
      (5L, 12L, 10L, "view"),
      (6L, 13L, 20L, "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val dir = Tmp.dir("sig_shap").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("shapley_attribution")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      ("click", 11L, 1.833333), ("signup", 2L, 0.333333),
      ("view", 11L, 1.833333)))
    assert(out.map(_._2).sum === 24L) // efficiency: 24/6 = v(7)−v(0)
  }

  test("geo cell join: cell fan-out loses no pair vs brute-force haversine") {
    import spark.implicits._
    // 400 hash-placed points; reference = exact all-pairs haversine in
    // plain Scala (same md5-bucket coords, same formula), so the 5×5
    // neighbor-cell candidate generation is checked for completeness,
    // not just determinism
    val dir = Tmp.dir("sig_geo").toString
    (1L to 400L).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def bucket(key: String, m: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString
        .take(7), 16) % m
    }
    val pts = (1L to 400L).map { k =>
      (k, bucket(s"lat:$k", 120000L) / 1000.0 - 60.0,
        bucket(s"lon:$k", 360000L) / 1000.0 - 180.0)
    }
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)) = {
      def r(x: Double) = math.toRadians(x)
      val s1 = math.sin((r(b._2) - r(a._2)) / 2.0)
      val s2 = math.sin((r(b._3) - r(a._3)) / 2.0)
      2.0 * 6371.0 * math.asin(math.sqrt(
        s1 * s1 + math.cos(r(a._2)) * math.cos(r(b._2)) * (s2 * s2)))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val expect = (for {
      a <- pts; b <- pts if a._1 < b._1
      d = r6(hav(a, b)) if d <= 300.0
    } yield (a._1, b._1, d)).sortBy(t => (t._3, t._1, t._2))
    val out = SparkEntry.queries("geo_cell_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.forall(_._1 === expect.size.toLong))
    assert(out.map(t => (t._2, t._3, t._4)).toSeq === expect.take(20))
  }

  test("dbscan: 3×3 cell census equals exact all-pairs triage") {
    import spark.implicits._
    // 600 hash-placed integer points; reference = brute-force O(n²)
    // ε-neighborhood triage in plain Scala (same md5 coords, same
    // integer distance), so the ε-sized-cell candidate generation is
    // checked for completeness, not just determinism
    val dir = Tmp.dir("sig_db").toString
    (1L to 600L).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def bucket(key: String, m: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString
        .take(7), 16) % m
    }
    val pts = (1L to 600L).map(k =>
      (k, bucket(s"dbx:$k", 1000L), bucket(s"dby:$k", 1000L)))
    def d2(a: (Long, Long, Long), b: (Long, Long, Long)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val core = pts.filter(a => pts.count(b => d2(a, b) <= 2500L) >= 5)
      .map(_._1).toSet
    val border = pts.filter(a => !core(a._1))
      .filter(a => pts.exists(b =>
        b._1 != a._1 && core(b._1) && d2(a, b) <= 2500L))
      .map(_._1).toSet
    val out = SparkEntry.queries("dbscan_core")(spark, dir)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(core.nonEmpty && border.nonEmpty) // fixture exercises all 3
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) ===
      ((600L, core.size.toLong, border.size.toLong,
        600L - core.size - border.size, core.toSeq.sum)))
  }

  test("merkle: row order never matters; one changed row flips one path") {
    import spark.implicits._
    def write(rows: Seq[(Long, Long, String, Double, String)],
        shuffle: Boolean): String = {
      val dir = Tmp.dir("sig_mk").toString
      val r0 = if (shuffle) scala.util.Random.shuffle(rows) else rows
      r0.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .repartition(if (shuffle) 7 else 2)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    def tree(dir: String): Seq[(Long, Long, Long)] =
      SparkEntry.queries("merkle_tree")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = (1L to 40L).map(k =>
      (k, k % 7, "O", 100.0 + k, "3-MEDIUM"))
    val t1 = tree(write(rows, shuffle = false))
    val t2 = tree(write(rows, shuffle = true))
    assert(t1.size === 31)
    assert(t1 === t2) // order- and partitioning-independent
    // mutate one row's price: exactly one node differs per level, and
    // the differing leaf is that key's hash bucket
    val mutated = rows.map { case r @ (k, c, st, p, pr) =>
      if (k == 17L) (k, c, st, p + 0.01, pr) else r }
    val t3 = tree(write(mutated, shuffle = false))
    val diff = t1.zip(t3).filter { case (a, b) => a != b }
    assert(diff.size === 5) // one per level, leaf to root
    def bucket(key: String, m: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString
        .take(7), 16) % m
    }
    val leaf = bucket("17", 16L)
    assert(diff.map(_._1).map(t => (t._1, t._2)) ===
      Seq((0L, leaf), (1L, leaf / 2), (2L, leaf / 4), (3L, leaf / 8),
        (4L, 0L)))
  }

  test("mis_luby: census equals a plain-Scala Luby replay; MIS is legal") {
    import spark.implicits._
    // 6-cycle s1-p1-s3-p3-s2-p2-s1: the reference below replays the
    // SAME md5 priorities and round rule, then independence and
    // maximality are asserted against the edge list as math
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L),
      (3L, 1L))
    val dir = Tmp.dir("sig_mis").toString
    edges.toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def bucket(key: String, m: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString
        .take(7), 16) % m
    }
    def pkey(n: String) = f"${bucket(s"mis:$n", 1000000000L)}%010d:$n"
    val adj: Map[String, Set[String]] = edges
      .flatMap { case (s0, p0) =>
        Seq(s"s$s0" -> s"p$p0", s"p$p0" -> s"s$s0") }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var und = adj.keySet
    var ins = Set.empty[String]
    var outs = Set.empty[String]
    for (_ <- 1 to 6 if und.nonEmpty) {
      val newIn = und.filter(v =>
        adj(v).intersect(und).forall(u => pkey(v) < pkey(u)))
      if (newIn.nonEmpty) {
        val newOut = und.filter(v => adj(v).exists(newIn))
        ins ++= newIn; outs ++= newOut; und = und -- newIn -- newOut
      }
    }
    // legality: no edge inside the MIS; every retired node sees one
    assert(ins.forall(v => adj(v).intersect(ins).isEmpty))
    assert(outs.forall(v => adj(v).exists(ins)))
    val (res, rounds) = graft.queries.Signals.misLuby(spark, dir)
    val r = res.collect()(0)
    assert(rounds >= 1)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((ins.size.toLong, outs.size.toLong,
      und.size.toLong,
      ins.toSeq.map(n => bucket(s"mis:$n", 1000000000L)).sum,
      ins.count(_.startsWith("s")).toLong)))
  }

  test("sssp: weighted relaxation beats the direct edge, exits early") {
    import spark.implicits._
    // weighted square: s1-p1 w=1 (min of dup rows 4,1), p1-s2 w=2,
    // s2-p2 w=5, s1-p2 w=10. Shortest to p2 is the 3-hop 1+2+5=8,
    // not the direct 10. Dists {s1:0, p1:1, s2:3, p2:8}; p2 improves
    // in round 3, round 4 relaxes from it and finds nothing → the
    // convergence exit records 3 improving rounds.
    val li = Seq((1L, 1L, 4.0), (1L, 1L, 1.0), (2L, 1L, 2.0),
      (2L, 2L, 5.0), (1L, 2L, 10.0))
      .toDF("l_suppkey", "l_partkey", "l_quantity")
    val dir = Tmp.dir("sig_sssp").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val (res, rounds) = graft.queries.Signals.ssspWeighted(spark, dir)
    assert(res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(0L -> 1L, 1L -> 1L, 3L -> 1L, 8L -> 1L))
    assert(rounds === 3)
  }

  test("skyline: dominated points drop, Pareto ties collapse with counts") {
    import spark.implicits._
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(d: Int) = new java.sql.Timestamp(day0.getTime + d * 86400000L)
    // points (price, day): (100,5) and (90,3) and (80,1) are Pareto;
    // (95,7) dominated by (100,5); (90,3) occurs twice → n_orders 2
    val rows = Seq((1L, 100.0, 5), (2L, 95.0, 7), (3L, 90.0, 3),
      (4L, 90.0, 3), (5L, 80.0, 1))
    val o = rows.map { case (k, p, d) => (k, p, ts(d)) }
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val dir = Tmp.dir("sig_sky").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("skyline")(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSeq
    assert(out === Seq((100.0, 5, 1L), (90.0, 3, 2L), (80.0, 1, 1L)))
  }

  test("table checksum: invariant to row order and partitioning, sensitive to one row") {
    import spark.implicits._
    def orders(rows: Seq[(Long, Long, String, Double, String)],
        parts: Int): String = {
      val dir = Tmp.dir("sig_ck").toString
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority").repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    val base = (1L to 100L).map(i =>
      (i, i % 7, "O", i * 1.5, "3-MEDIUM"))
    val ck = (dir: String) => SparkEntry
      .queries("table_checksum")(spark, dir).collect()(0)
      .getAs[String]("checksum")
    val a = ck(orders(base, 1))
    val b = ck(orders(scala.util.Random.shuffle(base), 8))
    assert(a === b, "checksum must not depend on order or partitioning")
    val c = ck(orders(base.updated(42, (43L, 1L, "F", 64.5, "1-URGENT")), 4))
    assert(a !== c, "a changed row must change the checksum")
  }

  test("k-anonymity: smallest class and singleton counts are exact") {
    // classes: (en,a)×5, (en,b)×1, (de,a)×3 → k=1, 1 singleton,
    // rows below k5 = 1 + 3
    val d = docs((1L to 9L).map(i => i -> s"body $i"): _*)
      .withColumn("lang", when(col("doc_id") <= 6, "en").otherwise("de"))
      .withColumn("source", when(col("doc_id") === 6, "b").otherwise("a"))
    val dir = Tmp.dir("sig_ka").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("kanonymity")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("classes") === 3L)
    assert(r.getAs[Long]("k_anonymity") === 1L)
    assert(r.getAs[Long]("singletons") === 1L)
    assert(r.getAs[Long]("rows_below_k5") === 4L)
  }

  test("dsir: importance weights match a JVM recompute of the recipe") {
    import spark.implicits._
    // target domain (src0): "spark shuffle"; raw pool: one doc equal
    // to the target, one disjoint, one half-overlapping
    val rows = Seq(
      (1L, "src0", "spark shuffle"), (2L, "src0", "spark shuffle"),
      (10L, "web", "spark shuffle"), (11L, "web", "pandas loop"),
      (12L, "web", "spark loop"))
    val d = rows.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Ranking.dsirWeights(d, targetSource = "src0", m = 1024, k = 50)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("logw_micros"))).toMap
    // recompute with the shared md5 recipe in the JVM
    def feats(text: String): Seq[String] = {
      val tk = text.toLowerCase.split("\\s+").toSeq
      tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(7), 16) % 1024
    val target = rows.filter(_._2 == "src0").flatMap(r => feats(r._3))
    val raw = rows.filter(_._2 != "src0")
      .map(r => r._1 -> feats(r._3).map(bucket))
    val ct = target.map(bucket).groupBy(identity).view.mapValues(_.size)
    val cr = raw.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val (nt, nr) = (target.size.toDouble, raw.map(_._2.size).sum.toDouble)
    def lrMicros(b: Long): Long = math.rint(
      (math.log((ct.getOrElse(b, 0) + 1.0) / (nt + 1024.0))
        - math.log((cr.getOrElse(b, 0) + 1.0) / (nr + 1024.0)))
        * 1e6).toLong
    val expected = raw.map { case (id, bs) =>
      id -> (bs.size.toLong, bs.map(lrMicros).sum) }.toMap
    assert(out === expected)
    // the doc equal to the target domain must outrank the disjoint one
    assert(out(10L)._2 > out(12L)._2)
    assert(out(12L)._2 > out(11L)._2)
  }

  test("kl drift: per-slice KL matches a JVM recompute on a tiny vocab") {
    import spark.implicits._
    val d = Seq((1L, "en", "a a b"), (2L, "de", "b b b"))
      .toDF("doc_id", "lang", "text")
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = Tmp.dir("sig_kl").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("kl_drift")(spark, dir).collect()
      .map(r => r.getAs[String]("slice") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab_size"),
          r.getAs[Long]("kl_picos"))).toMap
    // corpus: a→2, b→4, n=6, |V|=2; slices: en = {a:2, b:1}, de = {b:3}
    def kl(counts: Map[String, Int]): Long = {
      val v = Map("a" -> 2, "b" -> 4); val n = 6.0; val vsz = 2.0
      val nl = counts.values.sum.toDouble
      v.keys.toSeq.sorted.map { w =>
        val p = (counts.getOrElse(w, 0) + 1.0) / (nl + vsz)
        val q = v(w) / n
        math.rint(p * math.log(p / q) * 1e12).toLong
      }.sum
    }
    assert(out === Map(
      "en" -> ((3L, 2L, kl(Map("a" -> 2, "b" -> 1)))),
      "de" -> ((3L, 2L, kl(Map("b" -> 3))))))
    // the corpus mixture is b-heavy (4 of 6), so the a-heavy "en"
    // slice is the drifted one
    assert(out("en")._3 > out("de")._3)
  }

  test("poisson bootstrap: CI order statistics match a JVM recompute") {
    import spark.implicits._
    // two groups, 30 orders each, exact 2-dp prices
    val rows = (1L to 60L).map { k =>
      val grp = if (k <= 30) "A" else "B"
      (k, grp, (k * 7 % 100) * 10 + 0.25)
    }
    val o = rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val dir = Tmp.dir("sig_boot").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("bootstrap_ci")(spark, dir).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("mean_micros"),
          r.getAs[Long]("lo_micros"), r.getAs[Long]("hi_micros"))).toMap
    // JVM recompute of the full recipe
    val thr = Seq(98751885L, 197503771L, 246879713L, 263338361L,
      267453023L, 268275955L, 268413111L, 268432704L, 268435153L)
    def h28(r: Int, id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"boot:$r:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7), 16)
    def pois(h: Long): Long = thr.indexWhere(h < _) match {
      case -1 => 9L; case k => k.toLong
    }
    val expected = rows.groupBy(_._2).map { case (grp, rs) =>
      val cents = rs.map(t => t._1 -> math.round(t._3 * 100))
      val means = (0 until 48).flatMap { r =>
        val ws = cents.map { case (id, c) => (pois(h28(r, id)), c) }
        val sw = ws.map(_._1).sum
        if (sw == 0) None
        else Some((math.rint(ws.map { case (w, c) => w * c }.sum
          / 100.0 / sw * 1e6).toLong, r))
      }.sorted
      val mean = math.rint(
        cents.map(_._2).sum / 100.0 / cents.size * 1e6).toLong
      grp -> ((cents.size.toLong, mean,
        means(1)._1, means(46)._1))
    }
    assert(out === expected)
    // the interval must bracket the point estimate
    out.values.foreach { case (_, m, lo, hi) =>
      assert(lo <= m && m <= hi)
    }
  }

  test("psi drift: identical distribution scores 0; a shift matches recompute") {
    import spark.implicits._
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    // 1995 (base): 6 orders in bin 0, 4 in bin 1; 1996: identical
    // counts -> p == q bin-for-bin -> psi exactly 0; 1997: all 10 in
    // bin 2 -> recomputed positive psi
    def year(y: Int, b0: Int, b1: Int, b2: Int) =
      (Seq.fill(b0)(25000.0) ++ Seq.fill(b1)(75000.0) ++
        Seq.fill(b2)(125000.0)).map(v => (ts(y), v))
    val rows = (year(1995, 6, 4, 0) ++ year(1996, 6, 4, 0) ++
      year(1997, 0, 0, 10)).zipWithIndex
      .map { case ((d, v), i) => (i.toLong, d, v) }
    val o = rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val dir = Tmp.dir("sig_psi").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("psi_drift")(spark, dir).collect()
      .map(r => r.getAs[Int]("yr") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("psi_picos"))).toMap
    assert(out(1995) === ((10L, 0L)))
    assert(out(1996) === ((10L, 0L)))
    // JVM recompute for 1997: p over bins with add-one smoothing
    def p(c: Int) = (c + 1.0) / 20.0
    val q = Seq(p(6), p(4)) ++ Seq.fill(8)(p(0))
    val p97 = Seq(p(0), p(0), p(10)) ++ Seq.fill(7)(p(0))
    val psi = p97.zip(q).map { case (a, b) =>
      math.rint((a - b) * math.log(a / b) * 1e12).toLong }.sum
    assert(out(1997) === ((10L, psi)))
    assert(psi > 250000000000L, "a full shift must clear the 0.25 alarm")
  }

  test("welch t-test: statistic matches a JVM recompute of the exact-moment chain") {
    import spark.implicits._
    // md5 arms for uids 1..12 (precomputed): arm0 = {2,3,4,5,6,8,12},
    // arm1 = {1,7,9,10,11}; values uid*1.5 so the arms differ
    val rows = (1L to 12L).map(u => (u, "purchase", u * 1.5))
    val ev = rows.toDF("user_id", "event_type", "value")
    val dir = Tmp.dir("sig_tt").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("welch_ttest")(spark, dir).collect()
    assert(out.length === 1)
    val r = out(0)
    def arm(u: Long): Int = (java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(7), 16) % 2).toInt
    val byArm = rows.groupBy(t => arm(t._1)).view
      .mapValues(_.map(t => math.rint(t._3 * 1e6).toLong))
    def mom(a: Int) = {
      val vs = byArm(a)
      (vs.size.toLong, vs.sum, vs.map(v => BigInt(v) * v).sum)
    }
    val (n0, sv0, svv0) = mom(0); val (n1, sv1, svv1) = mom(1)
    val m0 = sv0.toDouble / n0; val m1 = sv1.toDouble / n1
    def vm(svv: BigInt, sv: Long, n: Long) =
      (svv.toDouble - sv.toDouble * sv.toDouble / n) / (n - 1.0) / n
    val va = vm(svv0, sv0, n0); val vb = vm(svv1, sv1, n1)
    val tExp = (m0 - m1) / math.sqrt(va + vb)
    def hev(x: Double, s: Int) = new java.math.BigDecimal(x)
      .setScale(s, java.math.RoundingMode.HALF_EVEN).doubleValue
    assert(r.getAs[Long]("n0") === n0)
    assert(r.getAs[Long]("n1") === n1)
    assert(r.getAs[Double]("t_stat") === hev(tExp, 6))
    val dfExp = (va + vb) * (va + vb) /
      (va * va / (n0 - 1.0) + vb * vb / (n1 - 1.0))
    assert(r.getAs[Double]("df") === hev(dfExp, 2))
    assert(r.getAs[Int]("significant") ===
      (if (math.abs(tExp) > 1.959964) 1 else 0))
  }

  test("ols fit: a perfect line recovers slope, intercept, and r2 = 1") {
    import spark.implicits._
    // day d at 01:00 UTC in nanos; y = 2d + 3 exactly on the "view"
    // series, constant 7.5 on the zero-variance "flat" series
    def ns(d: Int) = (1704067200L + d * 86400L + 3600L) * 1000000000L
    val rows = (0 to 4).flatMap { d =>
      Seq((ns(d), "view", 2.0 * d + 3.0, 1L),
        (ns(d), "view", 2.0 * d + 3.0, 2L),
        (ns(d), "flat", 7.5, 3L))
    }
    val ev = rows.toDF("ts", "event_type", "value", "user_id")
    val dir = Tmp.dir("sig_ols").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ols_fit")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val line = out("view")
    assert(line.getAs[Double]("slope") === 2.0)
    assert(line.getAs[Double]("intercept") === 3.0)
    assert(line.getAs[Double]("r2") === 1.0)
    val flat = out("flat")
    assert(flat.getAs[Double]("slope") === 0.0)
    assert(flat.getAs[Double]("intercept") === 7.5)
    assert(flat.isNullAt(flat.fieldIndex("r2")), "zero y-variance -> NULL r2")
  }

  test("ks test: separated arms hit D = 1, identical arms D = 0") {
    import spark.implicits._
    // md5 arms for uids 1..12 (same split welch_ttest pins):
    // arm0 = {2,3,4,5,6,8,12}, arm1 = {1,7,9,10,11}
    val arm0 = Set(2L, 3L, 4L, 5L, 6L, 8L, 12L)
    val rows = (1L to 12L).map(u =>
        (u, "sep", if (arm0(u)) 1.0 else 2.0)) ++
      (1L to 12L).map(u => (u, "same", 5.0))
    val ev = rows.toDF("user_id", "event_type", "value")
    val dir = Tmp.dir("sig_ks").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ks_test")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val sep = out("sep")
    assert(sep.getAs[Long]("n0") === 7L)
    assert(sep.getAs[Long]("n1") === 5L)
    assert(sep.getAs[Double]("ks_stat") === 1.0)
    assert(sep.getAs[Int]("reject") === 1)
    val same = out("same")
    assert(same.getAs[Double]("ks_stat") === 0.0)
    assert(same.getAs[Int]("reject") === 0)
    // crit = 1.358·sqrt((n0+n1)/(n0·n1)), half-even to 6
    def hev(x: Double, s: Int) = new java.math.BigDecimal(x)
      .setScale(s, java.math.RoundingMode.HALF_EVEN).doubleValue
    assert(sep.getAs[Double]("crit_05") ===
      hev(1.358 * math.sqrt(12.0 / 35.0), 6))
  }

  test("chi square: a perfectly independent table scores exactly zero") {
    import spark.implicits._
    // every user contributes one event of each type, so each cell is
    // exactly its margins' product / N -> every pico term is 0
    val rows = (1L to 12L).flatMap(u => Seq((u, "a"), (u, "b")))
    val ev = rows.toDF("user_id", "event_type")
    val dir = Tmp.dir("sig_chi").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("chi_square")(spark, dir).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Long]("r_levels") === 2L)
    assert(r.getAs[Long]("df") === 1L)
    assert(r.getAs[Long]("chi2_picos") === 0L)
    assert(r.getAs[Double]("chi2") === 0.0)
  }

  test("l-diversity: planted classes yield exact min-l and entropy floor") {
    import spark.implicits._
    // 2024-01-01 00:00 UTC in nanos; day d at noon
    def ns(d: Int) = (1704067200L + d * 86400L + 43200L) * 1000000000L
    // class (click, day0): 1 user x 3 events -> l=1, entropy 0
    // class (click, day1): users 1,2 with counts 1 and 3 -> l=2
    // class (view,  day0): users 1,2,3 once each -> l=3, max entropy
    val rows = Seq(
      (1L, 10L, "click", ns(0)), (2L, 10L, "click", ns(0)),
      (3L, 10L, "click", ns(0)),
      (4L, 1L, "click", ns(1)), (5L, 2L, "click", ns(1)),
      (6L, 2L, "click", ns(1)), (7L, 2L, "click", ns(1)),
      (8L, 1L, "view", ns(0)), (9L, 2L, "view", ns(0)),
      (10L, 3L, "view", ns(0)))
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
    val dir = Tmp.dir("sig_ld").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ldiversity")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("classes"), r.getAs[Long]("min_l"),
          r.getAs[Long]("classes_below_l3"),
          r.getAs[Long]("min_entropy_picos"))).toMap
    def term(c: Long, n: Long) = math.rint(
      (c.toDouble / n) * math.log(c.toDouble / n) * -1e12).toLong
    // click worst class is the singleton-user one: entropy 0
    assert(out("click") === ((2L, 1L, 2L, 0L)))
    // view: one class of 3 singleton users -> entropy = ln(3)
    val entView = 3 * term(1, 3)
    assert(out("view") === ((1L, 3L, 0L, entView)))
  }

  test("sketch quantiles: readout matches a JVM recompute and honors the bin-width error bound") {
    import spark.implicits._
    val vals = (1 to 200).map(i => i % 97 * 1.37 + 0.2)
    val ev = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, "click", v) }
      .toDF("event_id", "event_type", "value")
    val dir = Tmp.dir("sig_sq").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("sketch_quantiles")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") === 200L)
    // JVM recompute of the grid readout
    val W = 400.0 / 512.0
    val grid = vals.map(v => math.min(math.floor(v / W).toLong, 511L))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val cums = grid.scanLeft(0L)(_ + _._2).tail.zip(grid)
    def readout(p: Double): Double = {
      val rank = math.ceil(p * 200.0)
      val (cum, (bin, c)) = cums
        .find { case (cm, (_, cc)) => cm >= rank && cm - cc < rank }.get
      val v = bin.toDouble * W + W * (rank - (cum - c)) / c
      new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val sorted = vals.sorted
    for ((p, cname) <- Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")) {
      val got = r.getAs[Double](cname)
      assert(got === readout(p), cname)
      // the sketch's contract: within one bin width of the exact
      // rank statistic
      val exact = sorted(math.ceil(p * 200.0).toInt - 1)
      assert(math.abs(got - exact) <= W + 1e-9, s"$cname error bound")
    }
  }

  test("attribution: last qualifying touch wins; stale and missing touches report none") {
    import spark.implicits._
    def ns(hours: Long) = (1704067200L + hours * 3600L) * 1000000000L
    // user 1: view @0h, click @1h, purchase @2h -> click (last touch)
    // user 2: view @0h, purchase @73h (3d+1h later) -> none (stale)
    // user 3: purchase @0h, click @1h (touch AFTER) -> none
    // user 4: click @0h, purchase @72h (exactly 3d) -> click (boundary)
    val rows = Seq(
      (1L, 1L, "view", ns(0), 0.0), (2L, 1L, "click", ns(1), 0.0),
      (3L, 1L, "purchase", ns(2), 10.5),
      (4L, 2L, "view", ns(0), 0.0), (5L, 2L, "purchase", ns(73), 3.25),
      (6L, 3L, "purchase", ns(0), 7.0), (7L, 3L, "click", ns(1), 0.0),
      (8L, 4L, "click", ns(0), 0.0), (9L, 4L, "purchase", ns(72), 2.0))
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = Tmp.dir("sig_att").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("attribution")(spark, dir).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("purchases"), r.getAs[Long]("value_micros"))).toMap
    assert(out === Map(
      "click" -> ((2L, 12500000L)), // users 1 (10.5) and 4 (2.0)
      "none" -> ((2L, 10250000L)))) // users 2 (3.25) and 3 (7.0)
  }

  test("embed dim stats: dead dim, zero fraction, and variance are exact") {
    import spark.implicits._
    // dim0 constant (dead), dim1 mostly-zero, dim2 spread 1..4
    val vecs = Seq(
      (1L, Array(0.5f, 0f, 1f)), (2L, Array(0.5f, 0f, 2f)),
      (3L, Array(0.5f, 0f, 3f)), (4L, Array(0.5f, 1f, 4f)))
    val e = vecs.toDF("vec_id", "embedding")
    val dir = Tmp.dir("sig_eds").toString
    e.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("embed_dim_stats")(spark, dir).collect()
      .map(r => r.getAs[Int]("dim") ->
        (r.getAs[Long]("n"), r.getAs[Long]("zeros"),
          r.getAs[Double]("mean"), r.getAs[Double]("variance"))).toMap
    assert(out(0) === ((4L, 0L, 0.5, 0.0)))
    assert(out(1) === ((4L, 3L, 0.25, 0.1875))) // E[x²]−E[x]² = ¼−1/16
    assert(out(2) === ((4L, 0L, 2.5, 1.25)))
  }

  test("dense ids: a contiguous stable bijection, invariant to input layout") {
    import spark.implicits._
    def write(parts: Int): String = {
      val dir = Tmp.dir("sig_di").toString
      (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val a = SparkEntry.queries("dense_ids")(spark, write(1)).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("sid"))
    val b = SparkEntry.queries("dense_ids")(spark, write(8)).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("sid"))
    assert(a.toMap === b.toMap, "ids must not depend on input layout")
    assert(a.map(_._2).sorted.toSeq === (0L until 100L),
      "ids must be a dense bijection onto [0, N)")
  }

  test("split leakage: planted near-dups straddling splits are counted per split pair") {
    // md5 splits (precomputed): 1=train, 2=test, 9=val, 5=train, 6=train
    val textA = "the identical near duplicate document body shared verbatim"
    val textB = "a wholly different duplicate family with its own words here"
    val d = docs(
      1L -> textA, 2L -> textA, 9L -> textA,
      5L -> textB, 6L -> textB,
      7L -> "unique seven content nothing shared with anything",
      8L -> "unique eight content also unshared entirely")
    val dir = Tmp.dir("sig_slk").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("split_leakage")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs"))
      .toMap
    // identical triple {1,2,9} -> (1,2) (1,9) (2,9); pair {5,6} in-split
    assert(out === Map(
      ("test", "train") -> 1L, ("train", "val") -> 1L,
      ("test", "val") -> 1L, ("train", "train") -> 1L))
  }

  test("survival curve: planted lifetimes yield exact KM products with censoring") {
    import spark.implicits._
    def ns(d: Int) = (1704067200L + d * 86400L + 3600L) * 1000000000L
    // u1 dies at lifetime 2; u2 dies at 0; u3 active on the end day
    // (lifetime 5) -> censored, never a death
    val rows = Seq(
      (1L, 1L, ns(0)), (2L, 1L, ns(1)), (3L, 1L, ns(2)),
      (4L, 2L, ns(0)),
      (5L, 3L, ns(0)), (6L, 3L, ns(5)))
    val ev = rows.map { case (e, u, t) => (e, u, "click", t) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val dir = Tmp.dir("sig_km").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("survival_curve")(spark, dir).collect()
      .map(r => r.getAs[Int]("w") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("deaths"),
          r.getAs[Long]("censored"), r.getAs[Double]("survival"))).toMap
    def km(terms: Seq[(Long, Long)]): Double = { // (deaths, nRisk)*
      val picos = terms.map { case (d, n) =>
        math.rint(math.log(1.0 - d.toDouble / n) * 1e12).toLong }.sum
      new java.math.BigDecimal(math.exp(picos / 1e12))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
    assert(out(0) === ((3L, 1L, 0L, km(Seq(1L -> 3L)))))
    assert(out(2) === ((2L, 1L, 0L, km(Seq(1L -> 3L, 1L -> 2L)))))
    assert(out(5) === ((1L, 0L, 1L, km(Seq(1L -> 3L, 1L -> 2L)))))
  }

  test("seasonal dow: a planted weekly spike yields exact per-dow indices") {
    import spark.implicits._
    def ns(d: Int, i: Int) = (1704067200L + d * 86400L + i * 60L) * 1000000000L
    // 21 days; 14 events on dow 0, 7 otherwise -> every centered 7-day
    // window sums to 56, trend 8, ratios 1.75 / 0.875 exactly
    val rows = for {
      d <- 0 until 21
      n = if (d % 7 == 0) 14 else 7
      i <- 0 until n
    } yield ((d * 100 + i).toLong, 1L, "click", ns(d, i))
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
    val dir = Tmp.dir("sig_sdow").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("seasonal_dow")(spark, dir).collect()
      .map(r => r.getAs[Int]("dow") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("seasonal_index"))).toMap
    // full-window days 3..17: dow 3 occurs 3x, every other dow 2x
    assert(out(0) === ((2L, 1.75)))
    assert(out(3) === ((3L, 0.875)))
    (1 to 6).filter(_ != 3).foreach(dw => assert(out(dw) === ((2L, 0.875))))
  }

  test("rfm segments: planted customers land in exact deterministic quintiles") {
    import spark.implicits._
    // cust k: one order on day k at k*100 -> recency desc, freq tie
    // (custkey break), monetary asc all order customers 1..5 the same
    // way, so cust k scores (k, k, k)
    val rows = (1 to 5).map(k => (k.toLong * 10, k.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-0$k%d 00:00:00"), k * 100.0))
    val o = rows.toDF("o_orderkey", "o_custkey", "o_orderdate",
      "o_totalprice")
    val dir = Tmp.dir("sig_rfm").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("rfm_segments")(spark, dir).collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Int]("f"), r.getAs[Int]("m")) ->
        (r.getAs[Long]("n_customers"),
          r.getAs[Double]("segment_value")))
      .toMap
    assert(out === (1 to 5).map(k =>
      (k, k, k) -> ((1L, k * 100.0))).toMap)
  }

  test("power-law alpha: planted degrees reproduce the CSN discrete MLE") {
    import spark.implicits._
    // suppliers with degrees 1 (dropped), 2, 4, 8 -> alpha from the
    // exact quantized-ln chain
    val edges = Seq(1L -> Seq(1L), 2L -> (1L to 2L), 3L -> (1L to 4L),
      4L -> (1L to 8L)).flatMap { case (sk, ps) => ps.map(p => (sk, p)) }
    val li = edges.toDF("l_suppkey", "l_partkey")
    val dir = Tmp.dir("sig_pl").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("powerlaw_alpha")(spark, dir).collect()(0)
    val picos = Seq(2.0, 4.0, 8.0)
      .map(d => math.rint(math.log(d / 1.5) * 1e12).toLong).sum
    val exp = new java.math.BigDecimal(1.0 + 3.0 / (picos / 1e12))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Long]("n_tail") === 3L)
    assert(r.getAs[Double]("alpha_mle") === exp)
  }

  test("concentration: planted whale yields exact Gini and HHI") {
    import spark.implicits._
    // revenues 10,10,10,70 -> shares .1/.1/.1/.7:
    // gini = 2*340/(4*100) - 5/4 = 0.45; hhi = 3*.01 + .49 = 0.52
    val o = Seq((1L, 1L, 10.0), (2L, 2L, 10.0), (3L, 3L, 10.0),
      (4L, 4L, 70.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Tmp.dir("sig_cc").toString
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("concentration")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Double]("gini") === 0.45)
    assert(r.getAs[Double]("hhi") === 0.52)
  }

  test("prefix filter is lossless: pairs equal brute-force all-pairs Jaccard") {
    // planted corpus: near-dup pair (1,2) share most shingles; (3,4)
    // identical; 5-8 unrelated; 9 shares a COMMON boilerplate phrase
    // with everyone (stresses the rarest-first ordering).
    val boiler = "click here to subscribe to our newsletter today"
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river bend",
      3L -> s"wholly identical text about spark physical plans $boiler",
      4L -> s"wholly identical text about spark physical plans $boiler",
      5L -> s"completely different content concerning parquet row groups $boiler",
      6L -> "nothing in common with anything else whatsoever here at all",
      7L -> "short doc",
      8L -> "another short doc",
      9L -> boiler)
    val fast = Dedup.prefixJaccardPairs(d, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same shingle sets
    val sets = d.select(col("doc_id"),
      array_distinct(Dedup.shingles(lower(col("text")))).as("g"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
    val brute = (for {
      (a, ga) <- sets; (b, gb) <- sets if a < b
      j = (ga & gb).size.toDouble / (ga | gb).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one true pair")
    assert(fast === brute)
  }

  test("prefix_jaccard: candidate-join sides dedupe via ReusedExchange (no prefix recompute)") {
    // the prefix table is deliberately NOT checkpointed — both sides of
    // the candidate self-join must reuse one shuffled computation of it
    // (measured 5.7 → 4.1 s at sf0.1); losing the reuse silently doubles
    // the window + df-join work
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river bend",
      3L -> "wholly identical text about spark physical plans")
    val q = Dedup.prefixJaccardPairs(d, threshold = 0.5)
    q.collect() // adaptive plan finalizes only on execution
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p.take(800))
  }

  test("sketch_quantile_rollup: day-grid merge lands on the one-shot quantiles") {
    import spark.implicits._
    // 200 values split across two days: the summed day grids must give
    // bit-identical p50/p90/p99 to the flat sketch (sum is associative).
    val day = 86400L * 1000000L
    val ev = (1 to 200).map { i =>
      (i.toLong, if (i % 2 == 0) i.toLong else day + i, "click",
        i % 97 * 1.37 + 0.2)
    }.toDF("event_id", "us", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("event_type"), col("value"))
    val dir = Tmp.dir("sig_sqr").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val roll = SparkEntry.queries("sketch_quantile_rollup")(spark, dir)
      .collect()(0)
    val flat = SparkEntry.queries("sketch_quantiles")(spark, dir).collect()(0)
    assert(roll.getAs[Long]("n_days") === 2L)
    assert(roll.getAs[Long]("n") === flat.getAs[Long]("n"))
    for (p <- Seq("p50", "p90", "p99"))
      assert(roll.getAs[Double](p) === flat.getAs[Double](p), p)
  }

  test("kcore_decompose: pendant vertex peels, the 4-clique survives") {
    import spark.implicits._
    // Graph (each edge planted with support 2 = two shared orders):
    // K4 on parts 1-4 plus pendant 5-1. Round 0: 5 vertices, 7 edges.
    // k=3 peel removes only the pendant; the K4 (all degrees 3) is the
    // fixpoint from round 1 on.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val li = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = Tmp.dir("sig_kcore").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("kcore_decompose")(spark, dir).collect()
      .map(r => (r.getAs[Int]("rnd"), r.getAs[Long]("n_vertices"),
        r.getAs[Long]("n_edges")))
    assert(out.toSeq === Seq((0, 5L, 7L), (1, 4L, 6L), (2, 4L, 6L),
      (3, 4L, 6L)))
  }

  test("assoc_rules: directed confidence is asymmetric, lift is not") {
    import spark.implicits._
    val dir = Tmp.dir("sig_ar").toString
    // baskets {1,2}, {1,2}, {1,3}: supp(1)=3, supp(2)=2, supp(1,2)=2
    // conf(1→2)=2/3, conf(2→1)=1, lift both = 3·2/(3·2) = 1
    val rows = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("assoc_rules")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("sab"), r.getAs[Long]("sa"), r.getAs[Long]("sb"),
        r.getAs[Long]("conf_micros"), r.getAs[Long]("lift_micros")))
    assert(out.toSeq === Seq(
      (2L, 1L, 2L, 2L, 3L, 1000000L, 1000000L),
      (1L, 2L, 2L, 3L, 2L, 666667L, 1000000L)))
  }

  test("wilson_ci: interval matches the closed-form chain at p=0.25") {
    import spark.implicits._
    val dir = Tmp.dir("sig_wil").toString
    Seq(300.0, 100.0, 100.0, 100.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "a", v) }
      .toDF("event_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("wilson_ci")(spark, dir).collect()(0)
    assert((r.getAs[Long]("n"), r.getAs[Long]("k"),
      r.getAs[Double]("p_hat")) === ((4L, 1L, 0.25)))
    // mini-oracle: the identical IEEE chain
    val (z, n, p) = (1.959964, 4.0, 0.25)
    val den = 1.0 + z * z / n
    val c = (p + z * z / (2.0 * n)) / den
    val hw = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / den
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(r.getAs[Double]("ci_lo") === r6(c - hw))
    assert(r.getAs[Double]("ci_hi") === r6(c + hw))
  }

  test("graph_jaccard: triangle neighbors give 1/3 similarity each") {
    import spark.implicits._
    val dir = Tmp.dir("sig_gj").toString
    // two orders, both containing parts 1,2,3 → all three edges at
    // support 2; every pair shares exactly one neighbor: jac = 1/3
    val rows = for (o <- Seq(1L, 2L); p <- Seq(1L, 2L, 3L)) yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("graph_jaccard")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("common"), r.getAs[Long]("uni"),
        r.getAs[Long]("jac_micros")))
    assert(out.toSeq === Seq((1L, 2L, 1L, 3L, 333333L),
      (1L, 3L, 1L, 3L, 333333L), (2L, 3L, 1L, 3L, 333333L)))
  }

  test("dp_counts: md5-seeded discrete Laplace replayed by a mini-oracle") {
    import spark.implicits._
    val dir = Tmp.dir("sig_dp").toString
    val rows = (1 to 7).map(i => (i.toLong, "view")) ++
      (1 to 3).map(i => (100L + i, "purchase"))
    rows.map { case (id, et) =>
      (new java.sql.Timestamp(id * 1000), id, et) }
      .toDF("ts", "event_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    // mini-oracle: the same 28-bit md5 → uniform → geometric chain
    def gSide(salt: String, et: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + et).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      val b = java.lang.Long.parseLong(hex, 16) % 268435456L
      math.floor(-math.log((b + 1.0) / 268435456.0)).toLong
    }
    val out = SparkEntry.queries("dp_counts")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> ((r.getAs[Long]("n_true"),
        r.getAs[Long]("noise"), r.getAs[Long]("n_noisy")))).toMap
    for ((et, n) <- Seq("view" -> 7L, "purchase" -> 3L)) {
      val noise = gSide("dp1:", et) - gSide("dp2:", et)
      assert(out(et) === ((n, noise, n + noise)), et)
    }
  }

  test("cohens_kappa: chance-corrected agreement from integer margins") {
    import spark.implicits._
    val dir = Tmp.dir("sig_kap").toString
    // doc_id % 200 == 0 makes rater2 = rater1 (n11, n00); the two
    // mid-length docs flip only the lenient rater (n01); r2 >= r1 by
    // construction so n10 = 0. po=2/4, chance=6/16 -> kappa = 0.2
    Seq((200L, 600L), (400L, 100L), (150L, 400L), (199L, 490L))
      .map { case (id, nc) => (id, "en", nc) }
      .toDF("doc_id", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("cohens_kappa")(spark, dir).collect()(0)
    assert((r.getAs[Long]("n"), r.getAs[Long]("n11"),
      r.getAs[Long]("n10"), r.getAs[Long]("n01"),
      r.getAs[Long]("n00")) === ((4L, 1L, 0L, 2L, 1L)))
    assert(r.getAs[Double]("kappa") === 0.2)
  }

  test("t_closeness: ordered EMD against the global length distribution") {
    import spark.implicits._
    val dir = Tmp.dir("sig_tc").toString
    // group (en,s1): 4 docs in class 0; group (en,s2): 4 docs in class 9
    // global CDF: cum(i) = 4 for i = 0..8 over N = 8
    // s1: |4·8 − 4·4| = 16 per class i<9 → Σ = 144; t = 144/(4·8·9) = 0.5
    // s2: |0·8 − 4·4| = 16 per class    → t = 0.5 (symmetric)
    val rows = (1 to 4).map(i => (i.toLong, "en", "s1", 10L)) ++
      (5 to 8).map(i => (i.toLong, "en", "s2", 1900L))
    rows.toDF("doc_id", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_closeness")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n"), r.getAs[Double]("t_emd")))
    assert(out.toSeq === Seq(("s1", 4L, 0.5), ("s2", 4L, 0.5)))
  }

  test("label propagation: two planted triangles keep separate communities") {
    import spark.implicits._
    // support-2 edges: triangle {1,2,3}, triangle {10,11,12}, and a
    // bridge (3,10). Hand-walked sync rounds with min-tie:
    //   r1: 1→2 2→1 3→1 10→3 11→10 12→10
    //   r2: 1→1 2→1 3→1 10→10 11→3 12→3
    //   r3: 1→1 2→1 3→1 10→3 11→3 12→3
    // → communities {1,2,3} under label 1 and {10,11,12} under label 3:
    // the bridge feeds label 1 into vertex 10 but never outvotes the
    // triangle majority — exactly the community/component distinction.
    val rows = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (200L, 3L),
      (300L, 10L), (300L, 11L), (300L, 12L),
      (400L, 10L), (400L, 11L), (400L, 12L),
      (500L, 3L), (500L, 10L), (600L, 3L), (600L, 10L))
    val dir = Tmp.dir("sig_lpa").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("label_propagation")(spark, dir).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("members")))
    assert(out.toSeq === Seq((1L, 3L), (3L, 3L)))
  }

  test("modularity: two triangles with one bridge score the closed form") {
    import spark.implicits._
    // same fixture as the LPA test: m = 7 edges, communities {1,2,3}
    // and {10,11,12} each hold L_c = 3 intra edges and D_c = 7 degree
    // (the bridge endpoints 3 and 10 carry degree 3). Per community:
    // Q_c = 3/7 − (7/14)² → 178571 micros; global = 357142.
    val rows = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (200L, 3L),
      (300L, 10L), (300L, 11L), (300L, 12L),
      (400L, 10L), (400L, 11L), (400L, 12L),
      (500L, 3L), (500L, 10L), (600L, 3L), (600L, 10L))
    val dir = Tmp.dir("sig_mod").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val qc = math.rint((3.0 / 7.0 - (7.0 / 14.0) * (7.0 / 14.0))
      * 1000000.0).toLong
    val out = SparkEntry.queries("modularity_score")(spark, dir).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("members"),
        r.getAs[Long]("intra_edges"), r.getAs[Long]("degree_sum"),
        r.getAs[Long]("q_contrib_micros"), r.getAs[Long]("global_q_micros")))
    assert(out.toSeq === Seq(
      (1L, 3L, 3L, 7L, qc, 2 * qc),
      (3L, 3L, 3L, 7L, qc, 2 * qc)))
  }

  test("stupid backoff: the three tiers fire and match JVM closed forms") {
    import spark.implicits._
    // train "a b c a b c": c1(a,b,c)=2, N=6, V=3; bi: "a b"2 "b c"2
    // "c a"1; tri: "a b c"2 "b c a"1 "c a b"1
    val rows = Seq(
      (1L, "a b c a b c", "tr"),
      (2L, "a b c d", "src0"),   // tier3 ("a b c") + tier1 ("b c d": OOV d)
      (3L, "x b c a", "src0"))   // tier2 ("x b c") + tier3 ("b c a")
    val dir = Tmp.dir("sig_sb").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    def lp(s: Double): Long = math.rint(math.log(s) * 1000000.0).toLong
    val t3 = lp(2.0 / 2.0)                                  // "a b c"
    val t1 = lp(0.4 * (0.4 * ((0.0 + 1.0) / (6.0 + 3.0)))) // "b c d"
    val t2 = lp(0.4 * (2.0 / 2.0))                          // "x b c"
    val t3b = lp(1.0 / 2.0)                                 // "b c a"
    val out = SparkEntry.queries("stupid_backoff")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_trigrams") === 2L)
    assert(d2.getAs[Long]("sum_lp_micros") === t3 + t1)
    assert((d2.getAs[Long]("hits3"), d2.getAs[Long]("hits2"),
      d2.getAs[Long]("hits1")) === ((1L, 0L, 1L)))
    val d3 = out(3L)
    assert(d3.getAs[Long]("sum_lp_micros") === t2 + t3b)
    assert((d3.getAs[Long]("hits3"), d3.getAs[Long]("hits2"),
      d3.getAs[Long]("hits1")) === ((1L, 1L, 0L)))
    // doc 2 is the lower-likelihood doc: the OOV tier dominates
    val order = SparkEntry.queries("stupid_backoff")(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(order === Seq(2L, 3L))
  }
}
