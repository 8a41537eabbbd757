package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Ranking, Similarity, TextAnalysis}

/** Round-8 operator tests on hand-computable fixtures: BM25 ordering,
  * PMI of a planted collocation, char-entropy closed forms, substring
  * fingerprint pairing, rendezvous-shard stability, and the PageRank
  * contribution arithmetic.
  */
class ScoringSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("bm25 ranks the term-dense short doc above a diluted long one") {
    // doc 1: 2 hits in 4 tokens; doc 2: 2 hits in 12 tokens (same tf,
    // longer doc → length normalization must rank it lower); doc 3: no
    // hits → absent from the ranking entirely.
    val d = docs(
      1L -> "data model data model",
      2L -> "data and model words words words words words words words words pad",
      3L -> "nothing relevant at all in here")
    val out = Ranking.bm25TopDocs(d, Seq("data", "model"), k = 10).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.forall(_.getLong(1) > 0), "+1 idf keeps scores positive")
  }

  test("tfidf scorer: closed-form micros for a single-hit doc") {
    // N = 4 docs, df(data) = 3 → doc 4's score is exactly
    // round_even(1·ln²(4/3)·1e6); doc 1 (tf=3) is 3× that plus its
    // filter term; doc ordering is by total micros.
    val d = docs(
      1L -> "data data data filter",
      2L -> "data filter pad pad pad pad pad pad pad pad",
      3L -> "nothing here",
      4L -> "data")
    val idfD = math.log(4.0 / 3.0)
    val idfF = math.log(4.0 / 2.0)
    def m(x: Double) = math.rint(x * 1e6).toLong
    val out = Ranking.tfidfTopDocs(d, Seq("data", "filter"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq(
      (2L, m(idfD * idfD) + m(idfF * idfF)),
      (1L, 3 * m(idfD * idfD) + m(idfF * idfF)),
      (4L, m(idfD * idfD))).sortBy(-_._2))
  }

  test("rrf fusion: micros recompose from the constituent ranks, " +
      "and the rankers genuinely disagree on the fixture") {
    // doc 1 is term-dense and short (bm25 favorite); doc 2 repeats the
    // terms in a long diluted doc (raw-tf tfidf favorite, bm25
    // saturates + length-normalizes it down) — so the two rank columns
    // must differ somewhere, and every rrf_micros must equal the
    // independent driver-side 1/(60+r) arithmetic on those ranks.
    val d = docs(
      1L -> "data filter data",
      2L -> ("data data data data filter filter filter filter " +
        Seq.fill(40)("pad").mkString(" ")),
      3L -> "data pad",
      4L -> "filter pad pad")
    val out = Ranking.rrfFusion(d, Seq("data", "filter"), n = 50, k = 10)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
    def c(r: Option[Long]) =
      r.map(v => math.rint(1e6 / (60.0 + v)).toLong).getOrElse(0L)
    out.foreach { case (_, ra, rb, rrf) => assert(rrf === c(ra) + c(rb)) }
    assert(out.exists { case (_, ra, rb, _) => ra != rb },
      "fixture must make bm25 and tfidf disagree")
    // expected rrf order: descending, doc_id tiebreak
    val sorted = out.sortBy(t => (-t._4, t._1))
    assert(out.toSeq === sorted.toSeq)
  }

  test("naive bayes: hand-walked LLR vocabulary and confusion matrix") {
    import spark.implicits._
    // class a = "x x y", class b = "y z": cc {(a,x,2),(a,y,1),(b,y,1),
    // (b,z,1)}, nc {a:3, b:2}, N=5, V=3, tc {x:2, y:2, z:1}
    val d = Seq((1L, "x x y", "a"), (2L, "y z", "b"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def m(x: Double) = math.rint(x * 1e6).toLong
    def llr(p: Double, q: Double) = m(math.log(p) - math.log(q))
    val train = graft.llm.NaiveBayes.trainTopTerms(d, "lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(train === Seq(
      ("a", "x", 2L, llr(3.0 / 6, 1.0 / 5)),
      ("a", "y", 1L, llr(2.0 / 6, 2.0 / 5)),
      ("b", "z", 1L, llr(2.0 / 5, 1.0 / 6)),
      ("b", "y", 1L, llr(2.0 / 5, 2.0 / 6))))
    // scores: doc1 a: ln½+2·ln½+ln⅓ beats b's ln½+2·ln⅕+ln⅖ (x is
    // unseen in b → smoothed-zero fallback); doc2 symmetric → diagonal
    val conf = graft.llm.NaiveBayes.confusion(d, "lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(conf === Seq(("a", "a", 1L), ("b", "b", 1L)))
  }

  test("pmi is ln(1/p(x)) for a bigram that always follows its head") {
    // "zig zag" occurs 6 times; zig and zag occur only in that bigram.
    // With U unigrams total and B bigrams total: pmi = ln((6/B)/((6/U)^2)).
    val text = Seq.fill(6)("zig zag").mkString(" filler ")
      .split(" ").mkString(" ") // 6 bigram hits, filler separates pairs
    val d = docs(1L -> text)
    val toks = text.split(" ")
    val u = toks.length.toDouble
    val b = (toks.length - 1).toDouble
    val expected = math.log((6.0 / b) / ((6.0 / u) * (6.0 / u)))
    val row = Ranking.pmiBigrams(d, minCount = 5, k = 5)
      .filter(col("gram") === "zig zag").collect()
    assert(row.length === 1)
    assert(math.abs(row(0).getDouble(2) - expected) < 1e-5)
  }

  test("char entropy: uniform two-symbol text is ln(2), one-symbol is 0") {
    val d = docs(1L -> "abab abab", 2L -> "aaaa aaaa")
    val out = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // per-char terms quantize BEFORE the sum: 2 × round(½·ln2·1e6)
    assert(out(1L) === 2L * math.round(0.5 * math.log(2) * 1e6))
    assert(out(2L) === 0L)
  }

  test("substring fingerprints pair docs sharing an aligned 40-char run") {
    // 81 aperiodic chars (a stride-periodic run would collapse to ONE
    // distinct gram): offsets 0..40 give 5 distinct shared grams
    val shared =
      "the quick brown fox jumps over the lazy dog while seventeen wild geese fly south"
    val d = docs(
      1L -> (shared + " tail one of document"),
      2L -> (shared + " entirely different continuation text"),
      3L -> ("Z" * 90))
    val out = Dedup.substringPairs(d, k = 40, stride = 10).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(out(0).getLong(2) >= 4, "several aligned grams shared")
  }

  test("greedy cover: argmax by NEW shingles, saturation stops rounds") {
    import spark.implicits._
    // shingles: d1 {abc,bcd,cde}, d2 {abc,bcx,cxy,xyz}, d3 {bcd}.
    // greedy: d2 (4 new), then d1 (2 new: bcd,cde — abc covered),
    // then d3 gains 0 → emits no rows → loop saturates at 2 picks.
    val d = Seq(
      (1L, "a b c d e"), (2L, "a b c x y z"), (3L, "b c d"))
      .toDF("doc_id", "text")
    val dir = Tmp.dir("cover").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("greedy_cover")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1, 2L, 4L, 4L), (2, 1L, 2L, 6L)))
  }

  test("fellegi-sunter: one EM step on a two-pattern fixture") {
    import spark.implicits._
    // block aaa: 3 identical docs → 3 pairs, pattern (1,1,1),
    // w = 987805 micros; block bbb: 2 dissimilar docs with different
    // lang+source → 1 pair, pattern (0,0,0), w = 152. Per feature:
    // m = 2963415/2963567, u = 36585/1036433, p = 2963567/4e6.
    val d = Seq(
      (1L, "aaa common entity record", "en", "s1"),
      (2L, "aaa common entity record", "en", "s1"),
      (3L, "aaa common entity record", "en", "s1"),
      (4L, "bbb zzzz qqqq wwww", "en", "s1"),
      (5L, "bbb alpha beta gamma", "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = Tmp.dir("fs").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("fellegi_sunter")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val m = BigDecimal(2963415.0 / 2963567.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val u = BigDecimal(36585.0 / 1036433.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p = 2963567.0 / 4000000.0
    val pr = BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(out.toSeq === Seq(
      ("jw90", m, u, pr, 4L), ("lang", m, u, pr, 4L),
      ("source", m, u, pr, 4L)))
  }

  test("rake: stopwords segment phrases, deg/freq scores hand-check") {
    // "of"/"the" break islands: doc1 → "deep learning" twice,
    // doc2 → "deep models". deg(deep)=6 freq=3, deg(learning)=4
    // freq=2, deg(models)=2 freq=1 → every word scores 2.0, both
    // phrases 4.0; phrase tiebreak orders learning first.
    val d = docs(
      1L -> "deep learning of the deep learning",
      2L -> "deep models")
    val out = TextAnalysis.rakeKeywords(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      ("deep learning", 2L, 2L, 4000000L, 4.0),
      ("deep models", 1L, 2L, 4000000L, 4.0)))
  }

  test("winnowing: pair counts equal a brute-force fingerprint-set " +
      "intersection, and docs sharing an 11+ char run always pair") {
    val shared =
      "the quick brown fox jumps over the lazy dog while seventeen wild geese fly south"
    val d = docs(
      1L -> ("prefix one " + shared + " tail one"),
      2L -> (shared + " an entirely different continuation"),
      3L -> "completely unrelated text with no common runs whatsoever")
    // brute winnowing reference: same normalize, same 60-bit md5-prefix
    // hash, full O(n·w) scan per doc
    def fp60(sub: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(sub.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        h.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    def winnow(text: String, k: Int = 8, w: Int = 4): Set[Long] = {
      val t = text.toLowerCase.replaceAll("[^a-z0-9]", "")
      if (t.length < k + w - 1) Set.empty
      else {
        val hs = (0 to t.length - k).map(i => fp60(t.substring(i, i + k)))
        (w - 1 until hs.length).map(e => hs.slice(e - w + 1, e + 1).min)
          .toSet
      }
    }
    val sets = Map(
      1L -> winnow("prefix one " + shared + " tail one"),
      2L -> winnow(shared + " an entirely different continuation"),
      3L -> winnow("completely unrelated text with no common runs whatsoever"))
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      n = (sets(a) intersect sets(b)).size if n >= 2
    } yield (a, b, n.toLong)).toSeq.sorted
    val out = Dedup.winnowPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === expect)
    assert(out.exists(p => p._1 === 1L && p._2 === 2L),
      "the 81-char verbatim run must survive winnowing selection")
    assert(!out.exists(p => p._2 === 3L), "unrelated doc pairs with no one")
  }

  test("substring stop-gram guard drops corpus-boilerplate fingerprints") {
    val boiler =
      "standard license header appears identically at the top of every file"
    // docs 1-3 share ONLY the boilerplate; 4+5 also share a unique run
    val unique =
      " the unusual continuation shared by exactly two documents here only"
    val d = docs(
      1L -> (boiler + " one"), 2L -> (boiler + " two"),
      3L -> (boiler + " three"),
      4L -> (boiler + unique), 5L -> (boiler + unique + " tail"))
    val all = Dedup.substringPairs(d, k = 40, stride = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.contains((1L, 2L)) && all.contains((4L, 5L)))
    // boilerplate grams hit all 5 docs; maxDf=2 keeps only the pair
    // whose shared content is genuinely rare
    val guarded = Dedup.substringPairs(d, k = 40, stride = 10, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((4L, 5L)))
  }

  test("rendezvous: adding a shard only moves ids won by the new shard") {
    val d = docs((0L until 64L).map(i => i -> s"doc number $i text"): _*)
    val a8 = Dedup.rendezvousShard(d, "doc_id", 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a9 = Dedup.rendezvousShard(d, "doc_id", 9).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a8.keySet === (0L until 64L).toSet, "every id assigned")
    assert(a8.values.forall(s => s >= 0 && s < 8))
    val moved = a8.keys.filter(id => a8(id) != a9(id))
    assert(moved.forall(id => a9(id) == 8),
      "HRW invariant: a changed assignment can only be the new shard winning")
    assert(moved.size < 24, "~1/9 expected to move, not a reshuffle")
  }

  test("pagerank contribution: hub with d out-edges sends 1e6/d each") {
    import spark.implicits._
    // star: supplier 1 supplies parts 1..4; part 1 also from supplier 2.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L))
      .toDF("l_suppkey", "l_partkey")
    val dir = Tmp.dir("pr").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("pagerank_iter")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // p1 receives 1e6/4 from s1 and 1e6/1 from s2: 150000 + .85*1250000
    assert(out("p1") === 150000L + math.round(0.85 * 1250000.0))
    // s1 receives 1e6 from each single-source part p2..p4 and 1e6/2 from p1
    assert(out("s1") === 150000L + math.round(0.85 * 3500000.0))
    assert(out("p2") === 150000L + math.round(0.85 * 250000.0))
  }

  test("ppr: two frontier rounds from the seed on the star fixture") {
    import spark.implicits._
    // same star as the pagerank test: s1→p1..p4, s2→p1; seed s1.
    // p1p: 850000/4 = 212500 on each part. p2 parts: ⌊150000·.85/4⌉ =
    // 31875. p2 suppliers: p1 sends ⌊212500·.85/2⌉ = 90312 to s1,s2;
    // p2..p4 send 180625 to s1; restart adds 150000 on s1.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L))
      .toDF("l_suppkey", "l_partkey")
    val dir = Tmp.dir("ppr").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("ppr_seeded")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(
      ("s1", 90312L + 3 * 180625L + 150000L), ("s2", 90312L),
      ("p1", 31875L), ("p2", 31875L), ("p3", 31875L), ("p4", 31875L)))
  }

  test("hits: two-hop integer propagation, dup edge collapsed") {
    import spark.implicits._
    // s1→{p1,p2}, s2→{p2} (duplicated row exercises the distinct).
    // a1: p1=1, p2=2; h1: s1=3, s2=2; a2: p1=3, p2=5.
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val dir = Tmp.dir("hits").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("hits_scores")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("auth", "p2", 5L), ("auth", "p1", 3L),
      ("hub", "s1", 3L), ("hub", "s2", 2L)))
  }

  test("rolling 7-day distinct counts a user once across the window") {
    import spark.implicits._
    // user 1 active days 0 and 3 (one distinct in any 7-day window
    // covering both); user 2 active day 10 only.
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L), (2L, "2024-01-04 10:00:00", 1L),
      (3L, "2024-01-11 10:00:00", 2L))
      .toDF("event_id", "ts_s", "user_id")
      .select(col("event_id"),
        (unix_timestamp(col("ts_s")) * lit(1000000000L)).as("ts"),
        col("user_id"),
        lit("view").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
    val dir = Tmp.dir("rd").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("rolling_distinct")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // observed days are 0, 3, 10; windows ending at each:
    assert(out === Map(0 -> 1L, 3 -> 1L, 10 -> 1L))
  }

  test("bpe merge step counts pairs weighted by word frequency, not corpus") {
    // "ab" appears in words "abc" (×3 docs) and "cab" (×1): the pair
    // count weights by WORD frequency — "abc" occurring 3 times
    // contributes 3, giving ab=4, bc=3, ca=1.
    val d = docs(1L -> "abc", 2L -> "abc cab", 3L -> "abc")
    val out = TextAnalysis.bpeMergeStep(d, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("ab" -> 4L, "bc" -> 3L, "ca" -> 1L))
  }

  test("mixture weights follow sqrt-temperature and sum to ~1") {
    // sources with 1, 4, 16 docs: sqrt shares ∝ 1:2:4 → weights 1/7, 2/7, 4/7
    val rows = Seq.fill(1)("a") ++ Seq.fill(4)("b") ++ Seq.fill(16)("c")
    import spark.implicits._
    val d = rows.zipWithIndex
      .map { case (src, i) => (i.toLong, s"doc $i", src) }
      .toDF("doc_id", "text", "source")
    val out = Dedup.mixtureWeights(d, "source").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(out("a") - 1.0 / 7) < 1e-4)
    assert(math.abs(out("b") - 2.0 / 7) < 1e-4)
    assert(math.abs(out("c") - 4.0 / 7) < 1e-4)
    assert(math.abs(out.values.sum - 1.0) < 1e-5)
  }

  test("sq8 shortlist+rerank finds the planted nearest neighbor") {
    import spark.implicits._
    // query 0 along e1; vec 1 nearly parallel (nearest), vec 2
    // orthogonal, vec 3 anti-parallel; + filler off-axis vectors
    def v(main: Int, mag: Float): Seq[Float] =
      (0 until 64).map(i => if (i == main) mag else 0.01f * ((i % 3) - 1))
    val rows = Seq(
      (0L, v(0, 1.0f)), (1L, v(0, 0.9f)), (2L, v(1, 1.0f)), (3L, v(0, -1.0f))) ++
      (4L to 40L).map(i => (i, v((i % 32).toInt + 16, 0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(emb, k = 3).collect()
    assert(out.head.getLong(0) === 1L, "planted near-parallel vector wins")
    assert(out.map(_.getLong(0)).toSeq.take(3).forall(_ != 3L),
      "anti-parallel vector is not in the top 3")
    val sims = out.map(_.getDouble(2))
    assert(sims.sorted.reverse.toSeq === sims.toSeq, "descending by sim")
  }

  test("inverted index probe prunes term-bucket partitions") {
    val d = docs(
      1L -> "alpha beta gamma", 2L -> "alpha beta", 3L -> "beta delta")
    val dir = Tmp.dir("inv").toString
    TextAnalysis.invertedIndexWrite(d, dir, nBuckets = 8)
    val probe = TextAnalysis.invertedIndexProbe(spark, dir,
      Seq("alpha", "delta"), nBuckets = 8)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    assert(plan.contains("bucket#") && plan.contains(" IN "),
      s"probe must prune bucket partitions\n${plan.take(600)}")
    val out = probe.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSeq
    assert(out === Seq(("alpha", 2L, "1,2"), ("delta", 1L, "3")))
    // driver-side bucket function agrees with the Catalyst one
    val sparkBuckets = d.select(
      TextAnalysis.termBucket(lit("alpha"), 8)).head().getLong(0)
    assert(sparkBuckets === TextAnalysis.termBucketLocal("alpha", 8))
  }

  test("MAD outliers: the cut survives the outlier that moves the mean") {
    import spark.implicits._
    // nine values near 100 plus one at 10000: median 100, MAD 2 — the
    // planted point is the ONLY outlier (a 3-sigma z-score cut on these
    // numbers would move its own threshold by the outlier's presence)
    val lens = Seq(96L, 97L, 98L, 99L, 100L, 100L, 101L, 102L, 104L, 10000L)
    val d = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, "x", "en", n) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val dir = Tmp.dir("mad").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("mad_outliers")(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getDouble(2) === 100.0) // median
    assert(r(0).getDouble(3) === 2.0)   // MAD
    assert(r(0).getLong(4) === 1L)      // exactly the planted point
  }

  test("equi-depth deciles are balanced and ordered") {
    import spark.implicits._
    val od = (1L to 100L).map(i => (i, i.toDouble * 10, "O"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
    val dir = Tmp.dir("bd").toString
    od.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("bucketize_depth")(spark, dir)
      .collect()
    assert(out.length === 10)
    assert(out.forall(_.getLong(1) === 10L), "100 rows → 10 per decile")
    val his = out.map(_.getDouble(3))
    assert(his.sorted.toSeq === his.toSeq, "bucket maxima ascend")
  }

  test("stratified_sample: Neyman weight is N·σ; zero-variance stratum gets 0") {
    import spark.implicits._
    // stratum A: cents {100,100,300,300} → n·Sxx − Sx² = 4·200000 −
    // 800² = 160000, w = √160000 = 400; stratum B: constant price →
    // zero variance → w = 0, alloc = 0, kept = 0 (but still reported).
    // A's threshold 5000·1e6 div 4 caps the md5 rule wide open → all
    // 4 rows kept.
    val dir = Tmp.dir("strat").toString
    Seq(("A", 1L, 1, 1.00), ("A", 1L, 2, 1.00), ("A", 2L, 1, 3.00),
      ("A", 2L, 2, 3.00), ("B", 3L, 1, 5.00), ("B", 3L, 2, 5.00))
      .toDF("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("stratified_sample")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("A") === ((4L, 400L, 5000L, 1250000000L, 4L)))
    assert(out("B") === ((2L, 0L, 0L, 0L, 0L)))
  }

  test("ngram_novelty: first-occurrence attribution by min doc_id") {
    // doc1 "a b c d" → {a b c, b c d} both first here (novel 2/2);
    // doc2 "a b c e" → {a b c (seen), b c e (new)} (novel 1/2);
    // doc3 (fr) "a b c" → its only gram first occurred in doc1 (0/1);
    // doc4 has 2 tokens → no grams → excluded from doc counts entirely.
    import spark.implicits._
    val dir = Tmp.dir("novelty").toString
    Seq((1L, "a b c d", "en"), (2L, "a b c e", "en"), (3L, "a b c", "fr"),
      (4L, "x y", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("ngram_novelty")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("en") === ((2L, 4L, 3L, 0.75)))
    assert(out("fr") === ((1L, 1L, 0L, 0.0)))
  }

  test("bpe_train_rounds: round 2 merges the symbol round 1 created") {
    import spark.implicits._
    val dir = Tmp.dir("score_bpe").toString
    // w0: 'a a a'(3), 'a b'(2) → r1 merges 'a a' (cnt 6, overlap
    // counted naively, replaced greedily: 'a a a' → 'aa a');
    // r2 merges 'aa a' (3) — a symbol that did not exist before r1;
    // r3 merges 'a b' (2)
    Seq((1L, "aaa aaa aaa ab ab")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("bpe_train_rounds")(
        spark, dir).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("merged_pair"),
        r.getAs[Long]("cnt")))
    assert(out.toSeq === Seq((1, "a a", 6L), (2, "aa a", 3L),
      (3, "a b", 2L)))
  }

  test("distribution_match: per-bucket quota caps, underfull keeps all") {
    import spark.implicits._
    val dir = Tmp.dir("score_dm").toString
    // N = 10 → quota 1 per bucket: bin 0 (8 docs) caps to 1,
    // bin 9 (2 docs) caps to 1
    val rows = (1 to 8).map(i => (i.toLong, 50L)) ++
      Seq((9L, 1900L), (10L, 1950L))
    rows.toDF("doc_id", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("distribution_match")(
        spark, dir).collect()
      .map(r => r.getAs[Int]("bin") -> ((r.getAs[Long]("before_cnt"),
        r.getAs[Long]("target_cnt"), r.getAs[Long]("kept_cnt"),
        r.getAs[Double]("keep_rate")))).toMap
    assert(out(0) === ((8L, 1L, 1L, 0.125)))
    assert(out(9) === ((2L, 1L, 1L, 0.5)))
  }

  test("pps_systematic: stride-grid counts, multiplicity, order-proof") {
    import spark.implicits._
    // Fixtures chosen so the expectation is invariant to the md5
    // shuffle order (the test must not encode one md5 permutation):
    // stratum A: 4 equal units of 100 cents → T=400, stride
    // max(400 div 200, 1)=2; EVERY unit covers exactly 100/2=50 grid
    // points wherever it lands → n_sampled 200, all 4 hit.
    // stratum B: one 1_000_000-cent whale + one 2-cent minnow →
    // stride 1000002 div 200 = 5000; in either order the whale's
    // interval contains all 200 grid points and the minnow's none
    // (2-cent span can't straddle a 5000 boundary at either end:
    // offsets 0..2 and 1000000..1000002 both sit flush against a
    // multiple of 5000 ± 2).
    val dir = Tmp.dir("pps").toString
    (Seq((1L, "A", 1.00), (2L, "A", 1.00), (3L, "A", 1.00),
      (4L, "A", 1.00), (5L, "B", 10000.00), (6L, "B", 0.02)))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("pps_systematic")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out("A") === ((4L, 400L, 2L, 200L, 4L, 400L)))
    assert(out("B") === ((2L, 1000002L, 5000L, 200L, 1L, 1000000L)))
  }

  test("ips_offpolicy: per-action exact-rational IPS terms") {
    import spark.implicits._
    // a: rewards 1.00+3.00 over 2 pulls, b: 5.00 over 1 pull; N=3,
    // A=2 actions → term_a = 400/2/2/100 = 1.0, term_b =
    // 500/1/2/100 = 2.5 (uniform target policy π=1/A).
    val dir = Tmp.dir("ips").toString
    Seq(("a", 1.00), ("a", 3.00), ("b", 5.00))
      .toDF("event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ips_offpolicy")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("a") === ((2L, 400L, 0.666667, 1.0)))
    assert(out("b") === ((1L, 500L, 0.333333, 2.5)))
  }
}
