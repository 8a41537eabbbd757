package graft

import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DateSpec, Schemas}
import graft.engine.{FunnelAggregates, FunnelTable}

/** Property-based invariants (scalacheck): the date-spec algebra the
  * path construction depends on, and the funnel arithmetic contract
  * under arbitrary non-negative inputs.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** Deterministic scalacheck sampling (scalatestplus isn't in the
    * offline dependency cache, so forAll is spelled by hand: fixed
    * seeds, reproducible failures).
    */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val genDate: Gen[LocalDate] = for {
    epochDay <- Gen.choose(
      LocalDate.of(2020, 1, 1).toEpochDay,
      LocalDate.of(2030, 12, 31).toEpochDay)
  } yield LocalDate.ofEpochDay(epochDay)

  private val genRange: Gen[DateSpec.Range] = for {
    a <- genDate
    len <- Gen.choose(0, 100)
  } yield DateSpec.Range(a, a.plusDays(len))

  test("Range.monthPrefixes covers the month of every enumerated day") {
    samples(genRange, 200).foreach { r =>
      val prefixes = r.monthPrefixes.toSet
      assert(r.days.forall(d =>
        prefixes.contains("*" + DateSpec.formatMonth(java.time.YearMonth.from(d)))))
      // and no excess months: every prefix contains at least one covered day
      assert(prefixes.size ===
        r.days.map(d => java.time.YearMonth.from(d)).distinct.size)
    }
  }

  test("Range.days is ascending, inclusive of both endpoints") {
    samples(genRange, 200).foreach { r =>
      assert(r.days.head === r.start)
      assert(r.days.last === r.end)
      assert(r.days.sliding(2).forall {
        case Seq(a, b) => b === a.plusDays(1)
        case _ => true
      })
    }
  }

  test("day token parse/format round-trips") {
    samples(genDate, 300).foreach { d =>
      assert(DateSpec.parseDay(DateSpec.formatDay(d)) === d)
      assert(DateSpec.parse(DateSpec.formatDay(d)) === DateSpec.Day(d))
    }
  }

  test("range spec parse is whitespace-tolerant around the arrow") {
    samples(for { r <- genRange; l <- Gen.choose(0, 3); p <- Gen.choose(0, 3) } yield (r, l, p), 100).foreach { case (r, padL, padR) =>
      val s = DateSpec.formatDay(r.start) + (" " * padL) + "->" +
        (" " * padR) + DateSpec.formatDay(r.end)
      assert(DateSpec.parse(s) === r)
    }
  }

  test("a range spec missing a side is rejected, quoting the spec") {
    Seq("15_02_2026 ->", "->").foreach { spec =>
      val e = intercept[IllegalArgumentException](DateSpec.parse(spec))
      assert(e.getMessage.contains(s"'$spec'"))
    }
  }

  test("impossible days and months are rejected, not clamped") {
    Seq("31_02_2026", "29_02_2025", "*13_2026", "31_02_2026 -> 01_03_2026")
      .foreach { spec =>
        intercept[java.time.format.DateTimeParseException](DateSpec.parse(spec))
      }
    assert(DateSpec.parse("29_02_2024") === DateSpec.Day(LocalDate.of(2024, 2, 29)))
    assert(DateSpec.parse("*02_2024") ===
      DateSpec.Month(java.time.YearMonth.of(2024, 2)))
  }

  private val genStageVals: Gen[Seq[Int]] =
    Gen.listOfN(Schemas.stageColumns.size, Gen.choose(0, 100000))

  test("funnel invariants hold for arbitrary non-negative stage inputs") {
    // Spark round-trips are expensive: a few samples, each a full plan
    samples(genStageVals, 5).foreach { vals =>
      val stageRow = Row.fromSeq(
        Seq("e", "01-01-2026") ++ vals.map(_.toString))
      val stages = spark.createDataFrame(
        java.util.List.of(stageRow), Schemas.stages)
      val wide = FunnelTable.wide(
        FunnelAggregates.stageTotals(stages),
        graft.io.MockData.otpTotals(spark),
        graft.io.MockData.discoveryTotals(spark),
        graft.io.MockData.fiStatusCounts(spark))
      val w = wide.collect().head

      val total = vals.take(7).map(_.toLong).sum
      assert(w.getAs[Long]("total_users") === total)
      assert(w.getAs[Long]("n_consent") === total)
      assert(w.getAs[Long]("n_after_init") === total - vals(0))
      // survivors chain: each step subtracts its drop
      assert(w.getAs[Long]("n_after_auth") ===
        w.getAs[Long]("n_after_init") - w.getAs[Long]("auth_drop"))
      assert(w.getAs[Long]("n_after_disc") ===
        w.getAs[Long]("n_after_auth") - w.getAs[Long]("d3"))
      assert(w.getAs[Long]("n_after_link") ===
        w.getAs[Long]("n_after_disc") - w.getAs[Long]("d4"))

      val table = FunnelTable.rows(wide).collect()
      assert(table.length === 18)
      if (total > 0)
        // pct of the full base is exactly 100.0
        assert(table.find(_.getInt(0) == 0).get.getAs[Double]("success_pct") === 100.0)
    }
  }

  test("partial+final aggregation ≡ one-shot aggregation for any row split") {
    val rows = (1 to 20).map(i =>
      Row.fromSeq(Seq(s"e$i", "01-01-2026") ++
        Schemas.stageColumns.indices.map(c => ((i * 7 + c) % 50).toString)))
    samples(Gen.choose(1, 19), 5).foreach { split =>
      val all = spark.createDataFrame(java.util.List.of(rows: _*), Schemas.stages)
      val a = spark.createDataFrame(java.util.List.of(rows.take(split): _*), Schemas.stages)
      val b = spark.createDataFrame(java.util.List.of(rows.drop(split): _*), Schemas.stages)
      val once = FunnelAggregates.stageTotals(all).collect().head
      val partial = FunnelAggregates.stageTotals(
        FunnelAggregates.stageTotals(a).unionByName(
          FunnelAggregates.stageTotals(b))).collect().head
      assert(once === partial)
    }
  }

  test("HashBucket expression is bit-parity with the composed md5 spelling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // arbitrary unicode keys incl. empties and multi-byte chars; the
    // fused expression must match pmod(conv(substring(md5(...)))) on
    // every modulus the engine actually uses
    val piece: Gen[String] = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "ß", "中", "🙂", " ", ":"))
    val keys = samples(Gen.listOfN(12, piece).map(_.mkString), 300) ++
      Seq("", "a", "mix:1", "strat:42:7")
    for (m <- Seq(1000L, 1000000L, 1L << 28)) {
      val df = keys.toDF("k")
      val got = df.select(
        graft.llm.Dedup.hashBucket(col("k"), m).as("fused"),
        pmod(conv(substring(md5(col("k").cast("binary")), 1, 7), 16, 10)
          .cast("long"), lit(m)).as("composed"))
        .collect()
      got.foreach(r => assert(r.getLong(0) === r.getLong(1), s"m=$m"))
    }
    // 60-bit fingerprint sibling, same keys
    val fp = keys.toDF("k").select(
      graft.llm.Dedup.fingerprint60(col("k")).as("fused"),
      conv(substring(md5(col("k").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("composed"))
      .collect()
    fp.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("zonemap_skip invariants: layouts agree on totals and selection") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dir = Tmp.dir("prop_zm").toString
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    (1 to 500).map { _ =>
      (rnd.nextInt(200).toLong, new java.sql.Timestamp(
        base.getTime + rnd.nextInt(2500).toLong * 86400000L))
    }.toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("zonemap_skip")(spark, dir)
      .collect().map(r => r.getAs[String]("layout") -> r).toMap
    val (nat, srt) = (out("natural"), out("sorted"))
    // a zone map may over-scan but can NEVER lose selected rows, and
    // the two layouts partition the same physical table
    assert(nat.getAs[Long]("total_rows") === srt.getAs[Long]("total_rows"))
    assert(nat.getAs[Long]("selected_rows") ===
      srt.getAs[Long]("selected_rows"))
    for (r <- Seq(nat, srt)) {
      assert(r.getAs[Long]("rows_scanned") >= r.getAs[Long]("selected_rows"))
      assert(r.getAs[Long]("files_scanned") <= r.getAs[Long]("n_files"))
    }
    // sorted zones are disjoint day ranges: scanning is never worse
    assert(srt.getAs[Long]("rows_scanned") <= nat.getAs[Long]("rows_scanned"))
  }

  test("bpe_train_rounds matches a brute-force reference on random words") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dir = Tmp.dir("prop_bpe").toString
    val alphabet = "abc"
    val words = (1 to 60).map(_ =>
      (1 to (2 + rnd.nextInt(5))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // reference: the same count-naively / merge-greedily contract
    var state: Map[String, Long] = words.groupBy(identity)
      .map { case (w, ws) => w.toSeq.mkString(" ") -> ws.size.toLong }
    val expect = (1 to 3).map { _ =>
      val counts = state.toSeq.flatMap { case (w, wc) =>
        val sy = w.split(" ")
        sy.indices.dropRight(1).map(i => s"${sy(i)} ${sy(i + 1)}" -> wc)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val (pr, cnt) = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
      // true BPE merge: greedy left-to-right non-overlapping scan over
      // the SYMBOL list (never a raw substring replace, which could
      // match across symbol boundaries once multi-char symbols exist)
      val Array(pa, pb) = pr.split(" ", 2)
      state = state.map { case (w, wc) =>
        val sy = w.split(" ")
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == pa && sy(i + 1) == pb) {
            buf += pa + pb; i += 2
          } else { buf += sy(i); i += 1 }
        }
        buf.mkString(" ") -> wc
      }
      (pr, cnt)
    }
    val got = SparkEntry.queries("bpe_train_rounds")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("merged_pair"), r.getAs[Long]("cnt")))
    assert(got.toSeq === expect)
  }

  test("assoc_rules matches a brute-force reference on random baskets") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dir = Tmp.dir("prop_ar").toString
    val baskets = (1 to 30).map(o =>
      o.toLong -> rnd.shuffle((1L to 8L).toList).take(2 + rnd.nextInt(3)))
    baskets.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    // brute-force reference with the identical rounding and ordering
    val n = baskets.size.toDouble
    val supp = baskets.flatMap(_._2).groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }
    val pairs = baskets.flatMap { case (_, ps) =>
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).collect { case (k, xs) if xs.size >= 2 =>
      k -> xs.size.toLong }
    def r0(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toLong
    val expect = pairs.toSeq.map { case ((a, b), sab) =>
      val (sa, sb) = (supp(a), supp(b))
      (a, b, sab, sa, sb, r0(sab.toDouble * 1e6 / sa.toDouble),
        r0(n * sab.toDouble * 1e6 / (sa.toDouble * sb.toDouble)))
    }.sortBy { case (a, b, _, _, _, c, l) => (-l, -c, a, b) }.take(25)
    val got = SparkEntry.queries("assoc_rules")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("sab"), r.getAs[Long]("sa"), r.getAs[Long]("sb"),
        r.getAs[Long]("conf_micros"), r.getAs[Long]("lift_micros")))
    assert(got.toSeq === expect)
  }

  test("weighted_median matches a brute-force reference on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val dir = Tmp.dir("prop_wm").toString
    val rows = (1 to 200).map { _ =>
      (Seq("A", "B", "C")(rnd.nextInt(3)),
        (1 + rnd.nextInt(50)).toDouble, (1 + rnd.nextInt(9)).toDouble)
    }
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    // reference: smallest price whose cumulative weight clears ⌈W/2⌉
    val expect = rows.groupBy(_._1).map { case (g, xs) =>
      val grid = xs.groupBy(x => (x._2 * 100).round)
        .map { case (v, ys) => v -> ys.map(y => (y._3 * 100).round).sum }
        .toSeq.sortBy(_._1)
      val tw = grid.map(_._2).sum
      val cut = (tw + 1) / 2
      var cum = 0L
      var med = 0L
      grid.find { case (_, w) => cum += w; cum >= cut }
        .foreach { case (v, _) => med = v }
      g -> ((tw, grid.size.toLong, med))
    }
    val got = SparkEntry.queries("weighted_median")(
        spark, dir).collect()
      .map(r => r.getAs[String]("g") -> ((r.getAs[Long]("total_weight"),
        r.getAs[Long]("n_prices"), r.getAs[Long]("wmedian_cents"))))
      .toMap
    assert(got === expect)
  }

  test("batch_padding matches the packing mini-oracle on random lengths") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dir = Tmp.dir("prop_pad").toString
    val lens = (1 to 100).map(_ => 1 + rnd.nextInt(60))
    lens.zipWithIndex.map { case (len, i) =>
      (i.toLong, Seq.fill(len)("w").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    def waste(ordered: Seq[Int]): (Long, Long) = {
      val pads = ordered.grouped(32).toSeq
        .map(b => b.size.toLong * b.max - b.map(_.toLong).sum)
      (pads.sum, pads.max)
    }
    val (padA, _) = waste(lens)
    val (padS, _) =
      waste(lens.zipWithIndex.sortBy { case (l, i) => (l, i) }.map(_._1))
    val out = SparkEntry.queries("batch_padding")(spark, dir)
      .collect().map(r => r.getAs[String]("policy") ->
        r.getAs[Long]("pad_tokens")).toMap
    assert(out("arrival") === padA)
    assert(out("sorted") === padS)
    // sorting by length never increases total padding on one shard
    assert(padS <= padA)
  }
}
