package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-data semantics for the curation/eval batch: AUC rank
  * arithmetic (incl. ties and the degenerate one-class group),
  * calibration bin boundaries on the QUANTIZED score, the centered
  * covariance chain, and OOV accounting. Every expected value is
  * hand-derived.
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmp(prefix: String): String =
    Tmp.dir(prefix).toString

  test("scd2_audit: consecutive runs collapse, open interval carries NULL") {
    import org.apache.spark.sql.functions._
    val dir = tmp("cur_scd2")
    val h = 3600000000L // 1 h in µs
    // user 1: A@0, A@1h (no-change update — must COLLAPSE), B@2h,
    //   A@3h (open) → A: v1 [0,2h) closed + v2 [3h,∞) open; B: [2h,3h)
    // user 2: B@0 only → one open B version
    val rows = Seq(
      (1L, 1L, "A", 0L * h), (1L, 2L, "A", 1L * h),
      (1L, 3L, "B", 2L * h), (1L, 4L, "A", 3L * h),
      (2L, 5L, "B", 0L * h))
    rows.toDF("user_id", "event_id", "event_type", "ts_us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("ts_us") * 1000).as("ts")) // Long nanos encoding
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("scd2_audit")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    // A: 2 versions (collapse proved: 3 A-events -> 2 versions),
    //    1 open, closed duration exactly 2h, 3 events, 1 user
    assert(out("A") === ((2L, 1L, 2L * h, 3L, 1L)))
    // B: 2 versions across 2 users, user 2's is open; closed = 1h
    assert(out("B") === ((2L, 1L, 1L * h, 2L, 2L)))
  }

  test("referential_orphans: planted orphan keys are counted, not dropped") {
    import org.apache.spark.sql.functions._
    val dir = tmp("cur_refint")
    Seq((1L, 10L), (2L, 10L), (3L, 99L)) // orderkey 99 has no parent
      .toDF("l_linenumber", "l_orderkey")
      .select(col("l_orderkey")).write.parquet(s"$dir/lineitem.parquet")
    Seq((10L, 100L), (11L, 777L)) // custkey 777 has no parent
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq(Tuple1(100L)).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("referential_orphans")(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((1L, 1L, 3L, 2L)))
  }

  test("auc_roc: clean ranks, tied scores, and a one-class group") {
    val dir = tmp("cur_auc")
    // A: pos scores {1,3}, neg {2} → Σr₊ = 4, AUC = (4−3)/2 = 0.5
    // B: pos {2} ties neg {2} → avg rank 1.5, AUC = 0.5 via the tie term
    // C: positives only → n_neg = 0 → NULL (no rankable pair)
    // D: perfect separation pos {9,8} over neg {1} → AUC = 1.0
    Seq(
      ("A", 1.0, "F"), ("A", 2.0, "O"), ("A", 3.0, "F"),
      ("B", 2.0, "F"), ("B", 2.0, "O"),
      ("C", 5.0, "F"),
      ("D", 9.0, "F"), ("D", 8.0, "F"), ("D", 1.0, "O"))
      .toDF("o_orderpriority", "o_totalprice", "o_orderstatus")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("auc_roc")(spark, dir).collect()
    val byPri = out.map(r => r.getAs[String]("priority") -> r).toMap
    assert(byPri("A").getAs[Double]("auc") === 0.5)
    assert(byPri("B").getAs[Double]("auc") === 0.5)
    assert(byPri("C").isNullAt(byPri("C").fieldIndex("auc")))
    assert(byPri("D").getAs[Double]("auc") === 1.0)
    assert(byPri("D").getAs[Long]("n_pos") === 2L)
    assert(byPri("D").getAs[Long]("n_neg") === 1L)
  }

  private def ns(d: Int): Long =
    (1704067200L + d * 86400L) * 1000000000L

  test("calibration_bins: bins cut on quantized micros, Brier exact") {
    val dir = tmp("cur_cal")
    // value/500 clamped to [0,1], quantized to micros, bin = sm div 1e5:
    //  600 → 1.0 (clamped) bin 9, y=1, err 0
    //  500 → 1.0 bin 9, y=0, err 1e6 → bin 9 brier = 1e12/2/1e12 = 0.5
    //   50 → exactly 0.1 → sm 100000 lands bin 1 (boundary), err −9e5
    //  49.99 → sm 99980 stays bin 0, err 99980² = 9.996e9 → 0.009996
    Seq(
      (ns(0), 1L, "purchase", 600.0), (ns(0), 2L, "view", 500.0),
      (ns(0), 3L, "purchase", 50.0), (ns(0), 4L, "view", 49.99))
      .toDF("ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("calibration_bins")(spark, dir).collect()
    val byBin = out.map(r => r.getAs[Int]("bin") -> r).toMap
    assert(byBin.keySet === Set(0, 1, 9))
    assert(byBin(9).getAs[Long]("n") === 2L)
    assert(byBin(9).getAs[Long]("pos") === 1L)
    assert(byBin(9).getAs[Double]("mean_score") === 1.0)
    assert(byBin(9).getAs[Double]("frac_pos") === 0.5)
    assert(byBin(9).getAs[Double]("brier") === 0.5)
    assert(byBin(1).getAs[Double]("mean_score") === 0.1)
    assert(byBin(1).getAs[Double]("brier") === 0.81)
    assert(byBin(0).getAs[Double]("brier") === 0.009996)
  }

  test("embed_covariance: two shifted vectors give unit covariance") {
    val dir = tmp("cur_cov")
    // [1,2] and [3,4]: every centered product is (±1)², so all three
    // upper-triangle cells are exactly 1.0
    Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("embed_covariance")(spark, dir).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getAs[Long]("n") === 2L)
      assert(r.getAs[Double]("cov") === 1.0)
    }
    assert(out.map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"))).toSet ===
      Set((0, 0), (0, 1), (1, 1)))
  }

  test("embed_power_iter: dominant axis converges to the unit basis vector") {
    val dir = tmp("cur_pow")
    // centered data lives entirely on dim 0: x = ±1, ±0.5 → cov =
    // [[0.625, 0], [0, 0]] → M nanos = [[625e6, 0], [0, 0]]. Round 1:
    // w = (625e6·1e6, 0), so v snaps to (1e6, 0) and stays; lambda =
    // max|w| = 6.25e14 exactly.
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f)), (4L, Array(-0.5f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("embed_power_iter")(spark, dir).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Long]("v_micros"),
        r.getAs[Long]("lambda_nanos")))
    assert(out.toSeq === Seq((0, 1000000L, 625000000000000L),
      (1, 0L, 625000000000000L)))
  }

  test("vocab_coverage: OOV tokens and types against the src0 vocab") {
    val dir = tmp("cur_voc")
    Seq(
      (1L, "a b b", "src0"),
      (2L, "a c c d", "src1"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("vocab_coverage")(spark, dir).collect()
    val bySrc = out.map(r => r.getAs[String]("source") -> r).toMap
    assert(bySrc("src0").getAs[Long]("oov_tokens") === 0L)
    assert(bySrc("src1").getAs[Long]("n_tokens") === 4L)
    assert(bySrc("src1").getAs[Long]("oov_tokens") === 3L)
    assert(bySrc("src1").getAs[Long]("oov_types") === 2L)
    assert(bySrc("src1").getAs[Double]("oov_rate") === 0.75)
  }

  test("batch_padding: fixed-32 batches, arrival vs length-sorted waste") {
    val dir = tmp("cur_pad")
    // 40 docs, one shard; token counts are a deterministic
    // non-monotonic permutation so arrival order ≠ sorted order
    val lens = (1 to 40).map(i => (i * 37) % 101 + 1)
    lens.zipWithIndex.map { case (len, i) =>
      (i.toLong, Seq.fill(len)("w").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    // mini-oracle: pack the given order into batches of 32, pad each
    // batch to its longest member
    def waste(ordered: Seq[Int]): (Long, Long, Long) = {
      val pads = ordered.grouped(32).toSeq
        .map(b => b.size.toLong * b.max - b.map(_.toLong).sum)
      (pads.size.toLong, pads.sum, pads.max)
    }
    val (nbA, padA, maxA) = waste(lens)
    val (nbS, padS, maxS) =
      waste(lens.zipWithIndex.sortBy { case (l, i) => (l, i) }.map(_._1))
    val out = SparkEntry.queries("batch_padding")(spark, dir).collect()
    assert(out.length === 2)
    val byP = out.map(r => r.getAs[String]("policy") -> r).toMap
    for ((p, (nb, pad, mx)) <- Seq("arrival" -> ((nbA, padA, maxA)),
        "sorted" -> ((nbS, padS, maxS)))) {
      assert(byP(p).getAs[Long]("n_batches") === nb, p)
      assert(byP(p).getAs[Long]("real_tokens") === lens.map(_.toLong).sum, p)
      assert(byP(p).getAs[Long]("pad_tokens") === pad, p)
      assert(byP(p).getAs[Long]("max_batch_pad") === mx, p)
      val w = pad.toDouble / (pad + lens.map(_.toLong).sum).toDouble
      assert(byP(p).getAs[Double]("waste_pct") ===
        BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
          .toDouble, p)
    }
  }

  test("encoding_audit: run counting, dict width, and the decision rule") {
    val dir = tmp("cur_enc")
    val d1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val d2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val rows =
      (1 to 8).map(i => (1L, i, if ((i - 1) % 4 < 2) "A" else "B", "O",
        10L, if (i <= 4) 100L else 200L, d1)) ++
      (1 to 2).map(i => (2L, i, "A", "F", 20L, 300L, d2))
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_suppkey", "l_partkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("encoding_audit")(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("runs"),
        r.getAs[Long]("bytes_plain"), r.getAs[Int]("dict_bits"),
        r.getAs[Double]("avg_run_len"), r.getAs[String]("encoding"))))
      .toMap
    // returnflag AABB|AABB + AA → 5 runs, 2 values → too choppy: plain
    assert(out("l_returnflag") === ((10L, 2L, 5L, 10L, 1, 2.0, "plain")))
    // linestatus is constant per order → 2 long runs → rle
    assert(out("l_linestatus") === ((10L, 2L, 2L, 10L, 1, 5.0, "rle")))
    assert(out("l_suppkey") === ((10L, 2L, 2L, 20L, 1, 5.0, "rle")))
    // partkey: 3 runs of 4/4/2, 3 values → neither rule fires: plain
    assert(out("l_partkey") === ((10L, 3L, 3L, 30L, 2, 3.3333, "plain")))
    assert(out("l_shipday") === ((10L, 2L, 2L, 100L, 1, 5.0, "rle")))
  }

  test("zonemap_skip: interleaved days defeat natural zones, sorted skips") {
    val dir = tmp("cur_zm")
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def ts(day: Int) = new java.sql.Timestamp(
      base.getTime + day.toLong * 86400000L)
    // 4 orderkeys, each holding one LOW and one HIGH day: natural
    // zones span almost the whole range (only 2 of 4 files skip),
    // while the sorted layout isolates the predicate days
    val rows = Seq((0L, 0), (0L, 930), (1L, 30), (1L, 900),
      (2L, 60), (2L, 870), (3L, 90), (3L, 840))
    rows.map { case (k, d) => (k, ts(d)) }
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("zonemap_skip")(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> ((r.getAs[Long]("n_files"),
        r.getAs[Long]("files_scanned"), r.getAs[Long]("rows_scanned"),
        r.getAs[Long]("total_rows"), r.getAs[Long]("selected_rows"),
        r.getAs[Double]("skip_rate")))).toMap
    // predicate days [882, 973] select {900, 930}
    assert(out("natural") === ((4L, 2L, 4L, 8L, 2L, 0.5)))
    assert(out("sorted") === ((8L, 2L, 2L, 8L, 2L, 0.75)))
  }

  test("url_extract: parse_url host/path/query against constructed truth") {
    val dir = tmp("cur_url")
    Seq((1L, "en", "s1"), (2L, "fr", "s1"), (9L, "en", "s2"))
      .toDF("doc_id", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("url_extract")(spark, dir).collect()
      .map(r => r.getAs[String]("host") -> ((r.getAs[Long]("n_urls"),
        r.getAs[Long]("n_paths"), r.getAs[Long]("n_refs"),
        r.getAs[Long]("n_tracked"), r.getAs[String]("first_path"))))
      .toMap
    assert(out("s1.example.com") === ((2L, 2L, 2L, 2L, "/docs/en/1")))
    assert(out("s2.example.com") === ((1L, 1L, 1L, 1L, "/docs/en/9")))
  }

  test("vocab_growth: sequential singleton types trace an exact curve") {
    val dir = tmp("cur_heaps")
    // doc i = "w<i> common": checkpoint c holds c+1 docs, 2(c+1) tokens,
    // c+2 types; at k=1 (c=0) the curve starts at ln2/ln2 = 1.0
    (0 until 10).map(i => (i.toLong, s"w$i common"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("vocab_growth")(spark, dir).collect()
    assert(out.length === 10)
    val byK = out.map(r => r.getAs[Int]("k") -> r).toMap
    assert(byK(1).getAs[Long]("n_docs") === 1L)
    assert(byK(1).getAs[Long]("n_tokens") === 2L)
    assert(byK(1).getAs[Long]("vocab") === 2L)
    assert(byK(1).getAs[Double]("heaps_beta_ub") === 1.0)
    assert(byK(10).getAs[Long]("n_docs") === 10L)
    assert(byK(10).getAs[Long]("n_tokens") === 20L)
    assert(byK(10).getAs[Long]("vocab") === 11L)
  }

  test("compaction_bins: next-fit cumulative packing over planted sizes") {
    val dir = tmp("cur_pack")
    // files in (source, lang) order carry 8/1/1/6 bytes; total 16 →
    // target (16+7)//8 = 2; cum-before 0/8/9/10 → bins 0/4/4/5
    def doc(id: Long, src: String, lg: String, n: Long) =
      (id, "x", lg, src, n)
    Seq(doc(1, "a", "aa", 5), doc(2, "a", "aa", 3), doc(3, "a", "bb", 1),
      doc(4, "b", "aa", 1), doc(5, "b", "bb", 6))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("compaction_bins")(spark, dir).collect()
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("bytes"), r.getAs[String]("first_file"),
        r.getAs[String]("last_file")))
    assert(out.toSeq === Seq(
      (0, 1L, 8L, "a/aa", "a/aa"),
      (4, 2L, 2L, "a/bb", "b/aa"),
      (5, 1L, 6L, "b/bb", "b/bb")))
  }
  test("target_encode: a 1-order segment shrinks hard toward the prior") {
    import spark.implicits._
    // A: 10 orders at $100; B: one $2000 order. N=11, S=$3000.
    // enc = (N*sum_g + 20*S)/(N*(n_g+20)) cents:
    // A → 7,100,000/330 = $215.151515; B → 8,200,000/231 = $354.978355
    val dir = Tmp.dir("cur_te").toString
    (Seq.fill(10)((1L, 100.0)) ++ Seq((2L, 2000.0)))
      .toDF("o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, "AAA"), (2L, "BBB")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("target_encode")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq(("AAA", 10L, 100.0, 215.151515),
      ("BBB", 1L, 2000.0, 354.978355)))
  }
}
