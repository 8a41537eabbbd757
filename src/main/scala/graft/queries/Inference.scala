package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.io.Tables.{read => t}
import graft.llm.Dedup
import graft.ops.Graphs

/** Round-11 batch: time-series diagnostics and nonparametric inference
  * over the event stream, link prediction on the co-occurrence graph,
  * and the multiset (ALL) set-operation surface.
  *
  * Same determinism contract as [[Relational]]/[[Signals]]/[[Insights]]:
  * every cross-row float sum quantizes to integer units first (pico/
  * micro), exact moments accumulate in DECIMAL(38,0) ≙ DuckDB HUGEINT,
  * and the final IEEE chain is mirrored verbatim in the oracle.
  */
object Inference {

  private val D38 = DecimalType(38, 0)

  /** Fail-loudly guard for DECIMAL(38,0) arithmetic (the
    * correlation_matrix pattern): with ANSI off an overflowed product
    * silently NULLs where the oracle's HUGEINT keeps going — raise
    * instead of diverging.
    */
  private def chk(c: Column, what: String): Column =
    when(c.isNull,
      raise_error(lit(s"$what: exact-moment product overflowed" +
        " DECIMAL(38,0) — requantize inputs"))).otherwise(c)

  /** Daily event-count series (the shared input of the time-series
    * diagnostics): one hash-agg of the events table to |days| rows.
    * localCheckpoint because every consumer reads it several times
    * (base moments + a self-join) — without it each read re-scans
    * events. |days| is bounded by the time span, not the row count, so
    * the materialized series is tiny at any corpus size.
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint()

  val defs: Seq[QueryDef] = Seq(
    // Split conformal prediction (Vovk; the distribution-free
    // prediction-interval recipe an ML eval pipeline runs at release
    // gates): calibrate on even order keys — residual = |price −
    // segment mean| — take the k = ⌈0.9·(n+1)⌉-th smallest calibration
    // residual as the threshold (the EXACT order statistic, integer k,
    // no interpolated quantile), then measure empirical coverage on
    // the odd-key split. The marginal-coverage guarantee ≥ 0.9 holds
    // by exchangeability regardless of how bad the "model" is.
    // Scale shape: prices quantize to exact cents; the segment-mean
    // model is a 5-row broadcast; the order statistic rides
    // [[graft.ops.DistributedRank.withRowNumber]] (bucketed — no
    // single-partition sort); coverage is one more map-side aggregate.
    QueryDef("conformal_threshold", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        bround(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"))
      val j = o.join(c, "o_custkey")
      val cal = j.filter(col("o_orderkey") % 2 === 0)
      val mu = cal.groupBy("seg").agg(
        bround(sum(col("cents").cast(DecimalType(38, 0))).cast("double")
          / count(lit(1))).cast("long").as("m"))
      val calR = cal.join(broadcast(mu), "seg")
        .select(col("o_orderkey"), abs(col("cents") - col("m")).as("r"))
      val nk = calR.agg(count(lit(1)).as("n_calib"))
        .select(col("n_calib"),
          expr("CAST(((n_calib + 1) * 9 + 9) DIV 10 AS BIGINT)").as("k"))
      val q = graft.ops.DistributedRank
        .withRowNumber(calR, col("r"), col("o_orderkey"), "rn")
        .crossJoin(broadcast(nk))
        .filter(col("rn") === col("k"))
        .select(col("n_calib"), col("k"), col("r").as("q_cents"))
      val cov = j.filter(col("o_orderkey") % 2 === 1)
        .join(broadcast(mu), "seg")
        .select(abs(col("cents") - col("m")).as("r"))
        .crossJoin(broadcast(q))
        .agg(max("n_calib").as("n_calib"), max("k").as("k"),
          max("q_cents").as("q_cents"),
          count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("q_cents"), 1L).otherwise(0L))
            .as("covered"))
      cov.select(col("n_calib"), col("k"), col("q_cents"),
        col("n_test"), col("covered"),
        round(col("covered").cast("double")
          / col("n_test").cast("double"), 6).as("coverage"))
    },
      // the order statistic is a plain row_number here (DuckDB sorts
      // globally anyway); k = ⌈0.9(n+1)⌉ in exact integers
      """WITH j AS (SELECT o_orderkey,
        |    CAST(round_even(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cal AS (SELECT * FROM j WHERE o_orderkey % 2 = 0),
        |mu AS (SELECT seg,
        |    CAST(round_even(CAST(sum(cents) AS DOUBLE) / count(*), 0)
        |      AS BIGINT) AS m
        |  FROM cal GROUP BY 1),
        |r AS (SELECT o_orderkey, abs(cents - m) AS r
        |  FROM cal JOIN mu USING (seg)),
        |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_calib,
        |    CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k
        |  FROM r),
        |rk AS (SELECT r,
        |    row_number() OVER (ORDER BY r, o_orderkey) AS rn FROM r),
        |q AS (SELECT n_calib, k, r AS q_cents FROM rk, nk WHERE rn = k),
        |ts AS (SELECT abs(cents - m) AS r FROM j JOIN mu USING (seg)
        |  WHERE o_orderkey % 2 = 1)
        |SELECT max(q.n_calib) AS n_calib, max(q.k) AS k,
        |  max(q.q_cents) AS q_cents,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN ts.r <= q.q_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS covered,
        |  round(CAST(sum(CASE WHEN ts.r <= q.q_cents THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS coverage
        |FROM ts, q""".stripMargin),
    // Decision-stump training: the best Gini split of order price
    // (binned to a bounded $1000 threshold grid) against a binary
    // label (BUILDING-segment customer) — the inner loop of
    // tree/forest training, run the way a distributed learner actually
    // does it: ONE keyed aggregate folds the corpus to per-bin (n,
    // positives), a cumulative window over the BOUNDED bin grid gives
    // every left/right candidate simultaneously, and the weighted Gini
    // 2/n·(pL(nL−pL)/nL + pR(nR−pR)/nR) stays in exact integers until
    // one micro-quantized double chain per bin. Top-5 splits reported;
    // at 100 TB only the first aggregate touches data.
    QueryDef("gini_split", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          bround(col("o_totalprice") * lit(100)).cast("long").as("cents"))
        .select(col("o_custkey"),
          expr("CAST(cents DIV 100000 AS BIGINT)").as("bin"))
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("o_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
          .as("y"))
      val bins = o.join(c, "o_custkey")
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val wc = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = bins // grid-sized: the window sorts |bins| rows, not rows
        .select(col("bin"), sum("n").over(wc).as("nl"),
          sum("pos").over(wc).as("pl"))
        .crossJoin(broadcast(bins.agg(sum("n").as("nt"),
          sum("pos").as("pt"))))
        .filter(col("nl") < col("nt")) // right side must be non-empty
      val nr = col("nt") - col("nl")
      val pr2 = col("pt") - col("pl")
      val gini = bround(lit(2000000.0) / col("nt").cast("double") *
        (col("pl").cast("double") * (col("nl") - col("pl")).cast("double")
            / col("nl").cast("double")
          + pr2.cast("double") * (nr - pr2).cast("double")
            / nr.cast("double"))).cast("long")
      cum.select(col("bin"), col("nl"), col("pl"),
          gini.as("gini_micros"))
        .orderBy(col("gini_micros"), col("bin"))
        .limit(5)
    },
      // same bin grid, same cumulative, same integer-exact Gini chain
      """WITH o AS (SELECT o_custkey,
        |    CAST(round_even(o_totalprice * 100, 0) AS BIGINT) // 100000
        |      AS bin
        |  FROM orders),
        |c AS (SELECT c_custkey AS o_custkey,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
        |  FROM customer),
        |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM o JOIN c USING (o_custkey) GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(pos) AS BIGINT) AS pt FROM b),
        |cum AS (SELECT bin,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS pl
        |  FROM b)
        |SELECT bin, nl, pl,
        |  CAST(round_even(2000000.0 / nt *
        |    (CAST(pl AS DOUBLE) * (nl - pl) / nl
        |      + CAST(pt - pl AS DOUBLE) * ((nt - nl) - (pt - pl))
        |        / (nt - nl)), 0) AS BIGINT) AS gini_micros
        |FROM cum, t WHERE nl < nt
        |ORDER BY gini_micros, bin LIMIT 5""".stripMargin),
    // Mann–Whitney U rank-sum test (purchase vs view event values) —
    // the nonparametric sibling of welch_ttest. Computed entirely on
    // the DISTINCT-VALUE GRID (the ks_test idiom): one hash-agg to the
    // grid, one cumulative window over it, so the sort is bounded by
    // value cardinality, not row count. Tied ranks stay exact by
    // carrying DOUBLED average ranks (2·r̄ = 2·cum_before + t + 1 — an
    // integer), and the tie-corrected variance consumes the exact
    // Σ(t³−t). One final mirrored IEEE chain produces z.
    // Spearman rank correlation per return flag — the robust sibling of
    // correlation_matrix's Pearson: Pearson over DOUBLED average ranks
    // (2r̄ = 2·cum_before + t + 1, an exact integer off the distinct-
    // value grid, the mannwhitney_u idiom), so ties and moments stay
    // integer-exact in DECIMAL(38,0) up to the one final IEEE chain.
    // The rank tables join back by VALUE (grid-sized, not row-sized);
    // the Σ(2r)² ≤ 4n³ and n·Σ ≤ 4n⁴ growth caps the exact window at
    // ~10⁹ rows per group — past that the chk() guard raises rather
    // than silently diverging (the correlation_matrix contract).
    // The strictly-smaller cumulative is BUCKETED: a
    // monotone coarse bucket floor(c/1024) splits each group's grid so
    // the per-group window sorts only the bucket list and each
    // bucket's values — never one task sorting a whole group's grid
    // (3 return flags would otherwise mean 3 single-partition sorts
    // over a near-unique price grid at scale). Ranks are exact
    // integers either way, so the oracle keeps its plain window.
    QueryDef("spearman_corr", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def ranks(c: String): DataFrame = {
        // localCheckpoint: the grid feeds BOTH the bucket-total branch
        // and the within-bucket window — unmaterialized, each branch
        // would re-scan lineitem; materialized it is |distinct c| rows
        val grid = li.groupBy(col("g"),
            floor(col(c) / lit(1024.0)).as("bk"), col(c))
          .agg(count(lit(1)).as("t"))
          .localCheckpoint()
        val bcum = grid.groupBy("g", "bk").agg(sum("t").as("bt"))
          .withColumn("boff", coalesce(sum("bt").over(
            Window.partitionBy("g").orderBy("bk")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .drop("bt")
        val wv = Window.partitionBy("g", "bk").orderBy(c)
          .rowsBetween(Window.unboundedPreceding, -1)
        grid
          .withColumn("voff", coalesce(sum("t").over(wv), lit(0L)))
          .join(broadcast(bcum), Seq("g", "bk"))
          .select(col("g"), col(c),
            (lit(2) * (col("boff") + col("voff")) + col("t") + 1)
              .as(s"r2$c"))
      }
      val joined = li.join(ranks("x"), Seq("g", "x"))
        .join(ranks("y"), Seq("g", "y"))
      val m = joined.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(col("r2x").cast(D38)).cast(D38).as("sx"),
        sum(col("r2y").cast(D38)).cast(D38).as("sy"),
        sum((col("r2x").cast(D38) * col("r2x")).cast(D38)).cast(D38)
          .as("sxx"),
        sum((col("r2y").cast(D38) * col("r2y")).cast(D38)).cast(D38)
          .as("syy"),
        sum((col("r2x").cast(D38) * col("r2y")).cast(D38)).cast(D38)
          .as("sxy"))
      val num = chk(col("n").cast(D38) * col("sxy")
        - col("sx") * col("sy"), "spearman_corr")
      val dx = chk(col("n").cast(D38) * col("sxx")
        - col("sx") * col("sx"), "spearman_corr")
      val dy = chk(col("n").cast(D38) * col("syy")
        - col("sy") * col("sy"), "spearman_corr")
      m.select(col("g").as("returnflag"), col("n"),
          bround(when(dx > 0 && dy > 0,
            num.cast("double")
              / (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))), 6)
            .as("rho"))
        .orderBy("returnflag")
    },
      """WITH li AS (SELECT l_returnflag AS g, l_quantity AS x,
        |    l_extendedprice AS y FROM lineitem),
        |gx AS (SELECT g, x, count(*) AS t FROM li GROUP BY 1, 2),
        |rx AS (SELECT g, x, 2 * coalesce(sum(t) OVER (PARTITION BY g
        |    ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) + t + 1 AS r2x FROM gx),
        |gy AS (SELECT g, y, count(*) AS t FROM li GROUP BY 1, 2),
        |ry AS (SELECT g, y, 2 * coalesce(sum(t) OVER (PARTITION BY g
        |    ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) + t + 1 AS r2y FROM gy),
        |j AS (SELECT li.g, r2x, r2y FROM li
        |  JOIN rx ON rx.g = li.g AND rx.x = li.x
        |  JOIN ry ON ry.g = li.g AND ry.y = li.y),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(r2x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(r2y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * r2x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(r2y AS HUGEINT) * r2y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * r2y) AS HUGEINT) AS sxy
        |  FROM j GROUP BY 1),
        |f AS (SELECT g, n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS dx,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS dy
        |  FROM m)
        |SELECT g AS returnflag, n,
        |  round_even(CASE WHEN dx > 0 AND dy > 0 THEN
        |    CAST(num AS DOUBLE)
        |    / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
        |    END, 6) AS rho
        |FROM f ORDER BY returnflag""".stripMargin),

    // Additive decomposition of the daily series: 7-day centered
    // moving-average trend (ROWS frame, full windows only), day-of-week
    // seasonal profile of the detrended series, residual. EVERYTHING
    // after the one bounded |days|-row aggregate is integer micros —
    // trend quantizes at the ÷7, the seasonal mean quantizes its
    // integer-sum division, the residual is pure integer subtraction —
    // so the decomposition is bit-stable across engines and partition
    // orders. The global window is over the bounded daily grid, never
    // the corpus.
    QueryDef("seasonal_decompose", (s, dir) => {
      val dd = dailySeries(s, dir)
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val t7 = dd
        .withColumn("cnt7", count(lit(1)).over(w7))
        .withColumn("sum7", sum("x").over(w7))
        .withColumn("trend_micros",
          when(col("cnt7") === 7,
            bround(col("sum7") * lit(1000000.0) / lit(7.0)).cast("long")))
        .withColumn("dow",
          pmod(datediff(col("day"), to_date(lit("2024-01-01"))), lit(7)))
      val dev = t7.filter(col("trend_micros").isNotNull)
        .groupBy("dow")
        .agg(bround(sum(col("x") * lit(1000000L) - col("trend_micros"))
          .cast("double") / count(lit(1)).cast("double")).cast("long")
          .as("seasonal_micros"))
      t7.join(broadcast(dev), Seq("dow"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), col("trend_micros"), col("seasonal_micros"),
          when(col("trend_micros").isNotNull &&
            col("seasonal_micros").isNotNull,
            col("x") * lit(1000000L) - col("trend_micros")
              - col("seasonal_micros")).as("resid_micros"))
        .orderBy("day")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |t AS (SELECT day, x,
        |    count(*) OVER w AS cnt7, sum(x) OVER w AS sum7,
        |    (day - DATE '2024-01-01') % 7 AS dow
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT *, CASE WHEN cnt7 = 7 THEN
        |    CAST(round_even(sum7 * 1000000.0 / 7.0, 0) AS BIGINT)
        |    END AS trend_micros FROM t),
        |s AS (SELECT dow, CAST(round_even(
        |    CAST(sum(x * 1000000 - trend_micros) AS DOUBLE) / count(*),
        |    0) AS BIGINT) AS seasonal_micros
        |  FROM t2 WHERE trend_micros IS NOT NULL GROUP BY 1)
        |SELECT strftime(t2.day, '%Y-%m-%d') AS day, t2.x,
        |  t2.trend_micros, s.seasonal_micros,
        |  CASE WHEN t2.trend_micros IS NOT NULL
        |    AND s.seasonal_micros IS NOT NULL
        |    THEN t2.x * 1000000 - t2.trend_micros - s.seasonal_micros
        |    END AS resid_micros
        |FROM t2 LEFT JOIN s USING (dow) ORDER BY day""".stripMargin),

    // Two-proportion z-test on per-user conversion between the two
    // hash-split halves (the A/B readout): exact integer counts up to
    // one final mirrored IEEE chain for the pooled z. One user-keyed
    // aggregate then scalars.
    QueryDef("prop_ztest", (s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val row = u.agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 0, col("conv")).otherwise(0L)).as("x1"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 1, col("conv")).otherwise(0L)).as("x2"))
      val n1 = col("n1").cast("double")
      val n2 = col("n2").cast("double")
      val p = (col("x1") + col("x2")).cast("double") / (n1 + n2)
      val se2 = p * (lit(1.0) - p) * (lit(1.0) / n1 + lit(1.0) / n2)
      row.select(col("n1"), col("x1"), col("n2"), col("x2"),
        bround(when(col("n1") > 0 && col("n2") > 0 && se2 > 0.0,
          (col("x1").cast("double") / n1 - col("x2").cast("double") / n2)
            / sqrt(se2)), 6).as("z"))
    },
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    user_id % 2 AS grp
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS x2
        |  FROM u)
        |SELECT n1, x1, n2, x2,
        |  round_even(CASE WHEN n1 > 0 AND n2 > 0 AND
        |    (CAST(x1 + x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n2))
        |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n2))
        |      * (1.0 / n1 + 1.0 / n2) > 0.0 THEN
        |    (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
        |    / sqrt((CAST(x1 + x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n2))
        |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n2))
        |      * (1.0 / n1 + 1.0 / n2)) END, 6) AS z
        |FROM a""".stripMargin),

    QueryDef("mannwhitney_u", (s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view") &&
          col("value").isNotNull)
      val grid = g.groupBy("value").agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
        .withColumn("t", col("c1") + col("c2"))
      // bucketed strictly-before cumulative: the grid's
      // running sum no longer funnels through one unpartitioned sort
      // when values are near-unique — same exact integers
      val ranked = graft.ops.DistributedRank.withCumBefore(
          grid, Seq.empty, col("value"), Seq("t"))
        .select(col("c1"), col("c2"), col("t"), col("cum_t").as("cum"))
      val a = ranked.agg(
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1").cast(D38) *
          (lit(2) * col("cum") + col("t") + 1)).cast(D38).as("r1x2"),
        sum(col("t").cast(D38) * col("t") * col("t") -
          col("t").cast(D38)).cast(D38).as("ties"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = n1d + n2d
      val u1x2 = chk(col("r1x2") -
        (col("n1") * (col("n1") + 1)).cast(D38), "mannwhitney_u")
      val vr = n1d * n2d / lit(12.0) *
        ((nd + lit(1.0)) -
          col("ties").cast("double") / (nd * (nd - lit(1.0))))
      a.select(col("n1"), col("n2"),
        u1x2.cast("long").as("u1_x2"),
        bround(when(vr > 0.0,
          ((u1x2.cast("double") - n1d * n2d) / lit(2.0)) / sqrt(vr)), 6)
          .as("z"))
    },
      """WITH g AS (SELECT event_type, value FROM events
        |  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
        |grid AS (SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2
        |  FROM g GROUP BY value),
        |rk AS (SELECT c1, c2, c1 + c2 AS t,
        |    COALESCE(sum(c1 + c2) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM grid),
        |a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(CAST(c1 AS HUGEINT) * (2 * cum + t + 1)) AS HUGEINT)
        |      AS r1x2,
        |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
        |  FROM rk)
        |SELECT n1, n2,
        |  CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
        |  CASE WHEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) -
        |        CAST(ties AS DOUBLE) /
        |        ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) *
        |         (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))) > 0.0
        |  THEN round_even(
        |    ((CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) -
        |       CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) / 2.0) /
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) -
        |        CAST(ties AS DOUBLE) /
        |        ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) *
        |         (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))), 6)
        |  END AS z
        |FROM a""".stripMargin),

    // Autocorrelation of the daily event-count series at lags 1..7 —
    // the seasonality diagnostic seasonal_dow eyeballs, made exact.
    // r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)², expanded so every sum
    // is an exact integer moment (n²C − nS(Sa+Sb) + mS² over
    // n(nSxx − S²)) and only the final division is IEEE. Pairing is a
    // calendar-date equi-join (gap days simply contribute no pair —
    // identical in both engines); the whole computation runs on the
    // |days|-row series.
    // One Newton/IRLS step for logistic regression (purchase vs rest
    // on the event value) from β = 0 — the in-plan "training step"
    // family member for classification, next to ols_fit (closed-form
    // regression), kmeans_step and als_step. At β=0 every μ is exactly
    // ½, so the step needs NO per-row transcendentals:
    // β' = 2·(XᵀX)⁻¹·[Σt, Σxt] with t = ±1 — five exact integer
    // moments (the ols_fit discipline: DECIMAL(38,0) ≙ HUGEINT, chk()
    // fail-loudly on overflow), one mirrored IEEE chain for the betas
    // and the sigmoid readout at the mean. One aggregation pass,
    // map-side combinable; the only reduce is a 1-row moment tuple.
    QueryDef("logistic_irls_step", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("event_type") === "purchase", 1L).otherwise(-1L).as("t"),
        bround(col("value") * lit(1000000.0)).cast("long").as("x"))
      val m = ev.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("t").as("st"),
        sum(col("x").cast(D38) * col("x")).as("sxx"),
        sum(col("x").cast(D38) * col("t")).as("sxt"))
      val det = chk(col("n").cast(D38) * col("sxx")
        - col("sx").cast(D38) * col("sx"), "logistic_irls_step")
        .cast("double")
      val num0 = chk(col("sxx") * col("st").cast(D38)
        - col("sx").cast(D38) * col("sxt"), "logistic_irls_step")
        .cast("double")
      val num1 = chk(col("n").cast(D38) * col("sxt")
        - col("sx").cast(D38) * col("st").cast(D38), "logistic_irls_step")
        .cast("double")
      val b0 = lit(2.0) * num0 / det
      val b1 = lit(2.0) * num1 / det // per value-MICRO
      val xbar = col("sx").cast("double") / col("n").cast("double")
      val eta = b0 + b1 * xbar
      val p = lit(1.0) / (lit(1.0) + exp(-eta))
      m.select(col("n"),
        when(det =!= 0.0, bround(b0, 6)).as("beta0"),
        when(det =!= 0.0, bround(b1 * lit(1000000.0), 6))
          .as("beta1_per_unit"),
        when(det =!= 0.0, bround(p, 6)).as("p_at_mean"))
    },
      // same five HUGEINT moments, same closed-form 2×2 solve chain
      """WITH ev AS (SELECT
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS t,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS x
        |  FROM events),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(t) AS BIGINT) AS st,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * t) AS sxt
        |  FROM ev),
        |c AS (SELECT n, sx, st,
        |    CAST(CAST(n AS HUGEINT) * sxx
        |      - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS det,
        |    CAST(sxx * CAST(st AS HUGEINT)
        |      - CAST(sx AS HUGEINT) * sxt AS DOUBLE) AS num0,
        |    CAST(CAST(n AS HUGEINT) * sxt
        |      - CAST(sx AS HUGEINT) * CAST(st AS HUGEINT) AS DOUBLE)
        |      AS num1
        |  FROM m)
        |SELECT n,
        |  CASE WHEN det <> 0 THEN CAST(round_even(
        |    2.0 * num0 / det, 6) AS DOUBLE) END AS beta0,
        |  CASE WHEN det <> 0 THEN CAST(round_even(
        |    2.0 * num1 / det * 1000000.0, 6) AS DOUBLE) END
        |    AS beta1_per_unit,
        |  CASE WHEN det <> 0 THEN CAST(round_even(
        |    1.0 / (1.0 + exp(-(2.0 * num0 / det
        |      + 2.0 * num1 / det
        |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))), 6)
        |    AS DOUBLE) END AS p_at_mean
        |FROM c""".stripMargin),

    // Holt double exponential smoothing (α=0.5, β=0.3) of the daily
    // event count series, forecast horizons 1..7 — the level+trend
    // forecaster one notch past ewma_smooth. Inherently sequential, so
    // it runs as ONE in-plan `aggregate` fold over the array_sort-ed
    // |days|-element series (bounded GRID, one row — never
    // corpus-scale), init l₁=y₁, b₁=y₂−y₁, then lₜ=αyₜ+(1−α)(lₜ₋₁+bₜ₋₁),
    // bₜ=β(lₜ−lₜ₋₁)+(1−β)bₜ₋₁. Every arithmetic node (literals, op
    // order, the recomputed lₜ inside bₜ) is mirrored token-for-token
    // in the oracle's recursive CTE, so the IEEE trajectories are
    // identical and only the readout rounds.
    QueryDef("holt_linear", (s, dir) => {
      val dd = dailySeries(s, dir)
      val ys = dd
        .agg(array_sort(collect_list(struct(col("day"),
          col("x").cast("double").as("y")))).as("sd"))
        .select(transform(col("sd"), e => e.getField("y")).as("ys"))
      val y1 = element_at(col("ys"), 1)
      val y2 = element_at(col("ys"), 2)
      val fold = aggregate(
        slice(col("ys"), lit(2), size(col("ys")) - 1),
        struct(y1.as("l"), (y2 - y1).as("b")),
        (acc, y) => {
          val lp = lit(0.5) * y + lit(0.5) *
            (acc.getField("l") + acc.getField("b"))
          struct(lp.as("l"),
            (lit(0.3) * (lp - acc.getField("l")) +
              lit(0.7) * acc.getField("b")).as("b"))
        })
      ys.select(fold.getField("l").as("l"), fold.getField("b").as("b"))
        .select(explode(sequence(lit(1), lit(7))).as("h"),
          col("l"), col("b"))
        .select(col("h").cast("long").as("h"),
          bround(col("l"), 6).as("level"),
          bround(col("b"), 6).as("trend"),
          bround(col("l") + col("h").cast("double") * col("b"), 6)
            .as("forecast"))
        .orderBy("h")
    },
      // the same fold as a single-row recursive CTE: state after prefix
      // j, stepped by y_{j+1}; arithmetic mirrored node-for-node
      """WITH RECURSIVE d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |s AS MATERIALIZED (SELECT CAST(x AS DOUBLE) AS y,
        |    row_number() OVER (ORDER BY day) AS i
        |  FROM d),
        |hw(j, l, b) AS (
        |  SELECT 1, (SELECT y FROM s WHERE i = 1),
        |    (SELECT y FROM s WHERE i = 2) - (SELECT y FROM s WHERE i = 1)
        |  UNION ALL
        |  SELECT hw.j + 1,
        |    0.5 * s.y + 0.5 * (hw.l + hw.b),
        |    0.3 * (0.5 * s.y + 0.5 * (hw.l + hw.b) - hw.l) + 0.7 * hw.b
        |  FROM hw JOIN s ON s.i = hw.j + 1),
        |last AS (SELECT l, b FROM hw
        |  WHERE j = (SELECT max(i) FROM s))
        |SELECT CAST(h AS BIGINT) AS h, round_even(l, 6) AS level,
        |  round_even(b, 6) AS trend,
        |  round_even(l + CAST(h AS DOUBLE) * b, 6) AS forecast
        |FROM last, range(1, 8) t(h) ORDER BY h""".stripMargin),

    // Haar wavelet decomposition of the first-16-day event-count
    // series — the multi-resolution summary next to acf (lag
    // structure) / seasonal_decompose (fixed period): detail
    // coefficients localize WHERE the series changes, per scale. The
    // UNNORMALIZED integer Haar (a = x₂ᵢ+x₂ᵢ₊₁, d = x₂ᵢ−x₂ᵢ₊₁) keeps
    // every coefficient an exact BIGINT — no √2 drift — and is
    // invertible, so the 16 outputs carry the whole series. Scale
    // shape: one day-keyed aggregate folds the corpus; the 4 pyramid
    // levels run on the 16-row grid (each a 2-to-1 keyed fold; signs
    // come from index parity, not row order).
    QueryDef("haar_decompose", (s, dir) => {
      val grid = s.range(16).select(col("id").cast("int").as("d"))
      val daily = Tables.events(s, dir)
        .select(expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
        .filter(col("d") >= 0 && col("d") <= 15)
        .groupBy("d").agg(count(lit(1)).as("x"))
      var cur = grid.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("x"), lit(0L)).as("x"))
      var out: DataFrame = null
      for (lvl <- 1 to 4) {
        val g = cur.select(expr("CAST(d DIV 2 AS INT)").as("i"),
            col("x"),
            when(pmod(col("d"), lit(2)) === 0, col("x"))
              .otherwise(-col("x"))
              .as("sx"))
          .groupBy("i").agg(sum("x").as("x"), sum("sx").as("det"))
          .localCheckpoint() // next level + this level's readout
        val rows = g.select(lit(lvl).as("level"), col("i").as("idx"),
          lit("detail").as("kind"), col("det").as("coeff"))
        out = if (out == null) rows else out.unionByName(rows)
        cur = g.select(col("i").as("d"), col("x"))
      }
      out.unionByName(cur.select(lit(4).as("level"),
          col("d").as("idx"), lit("approx").as("kind"),
          col("x").as("coeff")))
        .orderBy("level", "kind", "idx")
    },
      // unrolled 4-level integer pyramid; signs from index parity
      {
        val levels = (1 to 4).map { l =>
          s""",
             |l$l AS MATERIALIZED (SELECT i // 2 AS i,
             |    CAST(sum(x) AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE -x END)
             |      AS BIGINT) AS det
             |  FROM l${l - 1} GROUP BY 1)""".stripMargin
        }.mkString
        val dets = (1 to 4).map { l =>
          s"""SELECT CAST($l AS INT) AS level, CAST(i AS INT) AS idx,
             |  'detail' AS kind, det AS coeff FROM l$l""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH daily AS (SELECT
           |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1),
           |l0 AS (SELECT CAST(g.range AS INT) AS i, coalesce(x, 0) AS x
           |  FROM range(16) g LEFT JOIN daily ON daily.d = g.range)$levels
           |$dets
           |UNION ALL SELECT 4, CAST(i AS INT), 'approx', x FROM l4
           |ORDER BY level, kind, idx""".stripMargin
      }),

    QueryDef("acf_daily", (s, dir) => {
      val dd = dailySeries(s, dir)
      val base = dd.agg(count(lit(1)).cast(D38).as("n"),
        sum("x").cast(D38).as("s"),
        sum(col("x").cast(D38) * col("x")).cast(D38).as("sxx"))
      val lagged = dd.select(explode(sequence(lit(1), lit(7))).as("lag"),
          col("day"), col("x"))
        .select(col("lag"), date_add(col("day"), col("lag")).as("tday"),
          col("x").as("xa"))
      val pairs = lagged
        .join(dd.select(col("day").as("tday"), col("x").as("xb")), "tday")
        .groupBy("lag").agg(
          count(lit(1)).as("n_pairs"),
          sum(col("xa").cast(D38) * col("xb")).cast(D38).as("c"),
          sum(col("xa").cast(D38)).cast(D38).as("sa"),
          sum(col("xb").cast(D38)).cast(D38).as("sb"))
      val num = chk(col("n") * col("n") * col("c") -
        col("n") * col("s") * (col("sa") + col("sb")) +
        col("n_pairs").cast(D38) * col("s") * col("s"), "acf_daily")
      val den = chk(col("n") * (col("n") * col("sxx") - col("s") * col("s")),
        "acf_daily")
      pairs.crossJoin(broadcast(base))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          bround(when(den =!= 0,
            num.cast("double") / den.cast("double")), 6).as("r"))
        .orderBy("lag")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |base AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS s,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM d),
        |p AS (SELECT k.lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS c,
        |    CAST(sum(CAST(a.x AS HUGEINT)) AS HUGEINT) AS sa,
        |    CAST(sum(CAST(b.x AS HUGEINT)) AS HUGEINT) AS sb
        |  FROM d a
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) k
        |  JOIN d b ON b.day = a.day + CAST(k.lag AS INTEGER)
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN n * (n * sxx - s * s) <> 0 THEN
        |    round_even(
        |      CAST(n * n * c - n * s * (sa + sb) +
        |        CAST(n_pairs AS HUGEINT) * s * s AS DOUBLE) /
        |      CAST(n * (n * sxx - s * s) AS DOUBLE), 6)
        |  END AS r
        |FROM p CROSS JOIN base
        |ORDER BY lag""".stripMargin),

    // CUSUM changepoint scan over the daily series: S_t = Σ_{i≤t}(x_i−x̄)
    // peaks at the day the level shifts — the temporal complement of the
    // distributional drift checks (kl_drift/psi_drift). n·S_t =
    // n·cum_t − t·S is an exact integer for every prefix, so the argmax
    // (ties → earliest day) is engine-independent; the reported
    // statistic divides once at the end.
    QueryDef("cusum_changepoint", (s, dir) => {
      val dd = dailySeries(s, dir)
      val tot = dd.agg(count(lit(1)).as("n"), sum("x").as("s"))
      val w = Window.orderBy("day")
      val cum = dd.select(col("day"),
        sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("cum"),
        row_number().over(w).cast("long").as("t"))
      val devN = chk(col("n").cast(D38) * col("cum") -
        col("t").cast(D38) * col("s"), "cusum_changepoint")
      cum.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), devN.as("dev_n"))
        .orderBy(abs(col("dev_n")).desc, col("day").asc)
        .limit(1)
        .select(date_format(col("day"), "yyyy-MM-dd").as("change_day"),
          col("n").as("n_days"),
          bround(col("dev_n").cast("double") / col("n").cast("double"), 6)
            .as("cusum"))
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS s
        |  FROM d),
        |c AS (SELECT day,
        |    CAST(sum(x) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |      AS cum,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS change_day, n AS n_days,
        |  round_even(CAST(CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * s
        |      AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum
        |FROM c CROSS JOIN tot
        |ORDER BY abs(CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * s)
        |  DESC, day ASC
        |LIMIT 1""".stripMargin),

    // Theil–Sen robust trend of the daily series: the median of all
    // pairwise slopes (x_j−x_i)/(day_j−day_i). The pair join is
    // |days|² — bounded by the SQUARE OF THE TIME SPAN, not the corpus
    // (the self_overlap_sample posture), so it stays a broadcast-sized
    // self-join at any data scale. Slopes quantize to integer
    // micro-units before the median; both engines interpolate the
    // even-count median identically ((a+b)/2 over exact integers).
    QueryDef("theilsen_trend", (s, dir) => {
      val dd = dailySeries(s, dir)
      val a = dd.select(col("day").as("da"), col("x").as("xa"))
      val b = dd.select(col("day").as("db"), col("x").as("xb"))
      val slope = (col("xb") - col("xa")).cast("double") /
        datediff(col("db"), col("da")).cast("double")
      a.join(b, col("da") < col("db"))
        .select(bround(slope * lit(1000000.0)).cast("long").as("s_micro"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile(s_micro, 0.5)").as("med"))
        .select(col("n_pairs"),
          bround(col("med") / lit(1000000.0), 6).as("slope_per_day"))
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |sl AS (SELECT CAST(round_even(
        |      CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
        |      * 1000000.0, 0) AS BIGINT) AS s_micro
        |  FROM d a JOIN d b ON a.day < b.day)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round_even(quantile_cont(CAST(s_micro AS DOUBLE), 0.5)
        |    / 1000000.0, 6) AS slope_per_day
        |FROM sl""".stripMargin),

    // Mutual information (and its normalized form) between order status
    // and priority — the strength-of-association companion to
    // chi_square's significance. Per-cell terms c·ln(cN/(c_x·c_y))
    // carry the exact count times a pico-quantized log factor (the
    // integer-before-sum rule: the sum order never touches IEEE), then
    // ONE division chain yields nats. Absent cells contribute exactly 0
    // to MI (lim p→0 of p·ln p), so the sparse GROUP BY is already the
    // dense answer — no densification needed, unlike chi_square.
    QueryDef("mutual_info", (s, dir) => {
      val o = t(s, dir, "orders")
      val cell = o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cxy"))
      val rowm = o.groupBy("o_orderstatus").agg(count(lit(1)).as("cx"))
      val colm = o.groupBy("o_orderpriority").agg(count(lit(1)).as("cy"))
      val nTot = o.agg(count(lit(1)).as("nn"))
      val lnRatio = log(
        (col("cxy").cast("double") * col("nn").cast("double")) /
          (col("cx").cast("double") * col("cy").cast("double")))
      val terms = cell.join(broadcast(rowm), "o_orderstatus")
        .join(broadcast(colm), "o_orderpriority")
        .crossJoin(broadcast(nTot))
        .select(col("nn"), col("cxy"), col("cx"), col("cy"),
          (col("cxy").cast(D38) *
            bround(lnRatio * lit(1000000000000.0)).cast(D38))
            .as("mi_term"))
      val hTerm = (c: Column, n: Column) => (c.cast(D38) *
        bround(log(c.cast("double") / n.cast("double")) *
          lit(1000000000000.0)).cast(D38))
      val hx = rowm.crossJoin(broadcast(nTot))
        .agg(count(lit(1)).as("levels_x"),
          sum(hTerm(col("cx"), col("nn"))).cast(D38).as("hx_n"),
          max("nn").as("nn"))
      val hy = colm.crossJoin(broadcast(nTot))
        .agg(count(lit(1)).as("levels_y"),
          sum(hTerm(col("cy"), col("nn"))).cast(D38).as("hy_n"))
      val nd = col("nn").cast("double")
      val mi = col("mi_n").cast("double") / nd / lit(1000000000000.0)
      val hxd = -col("hx_n").cast("double") / nd / lit(1000000000000.0)
      val hyd = -col("hy_n").cast("double") / nd / lit(1000000000000.0)
      terms.agg(sum(col("mi_term")).cast(D38).as("mi_n"))
        .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("levels_x"), col("levels_y"),
          bround(mi, 6).as("mi_nats"),
          bround(when(hxd * hyd > 0.0, mi / sqrt(hxd * hyd)), 6)
            .as("nmi"))
    },
      """WITH cell AS (SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS cxy
        |  FROM orders GROUP BY 1, 2),
        |rowm AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cx
        |  FROM orders GROUP BY 1),
        |colm AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cy
        |  FROM orders GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders),
        |mi AS (SELECT CAST(sum(CAST(cxy AS HUGEINT) *
        |      CAST(round_even(ln(
        |        (CAST(cxy AS DOUBLE) * CAST(nn AS DOUBLE)) /
        |        (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
        |        * 1000000000000.0, 0) AS BIGINT)) AS HUGEINT) AS mi_n
        |  FROM cell JOIN rowm USING (o_orderstatus)
        |    JOIN colm USING (o_orderpriority) CROSS JOIN nt),
        |hx AS (SELECT CAST(count(*) AS BIGINT) AS levels_x,
        |    CAST(sum(CAST(cx AS HUGEINT) *
        |      CAST(round_even(ln(CAST(cx AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * 1000000000000.0, 0) AS BIGINT)) AS HUGEINT) AS hx_n,
        |    max(nn) AS nn
        |  FROM rowm CROSS JOIN nt),
        |hy AS (SELECT CAST(count(*) AS BIGINT) AS levels_y,
        |    CAST(sum(CAST(cy AS HUGEINT) *
        |      CAST(round_even(ln(CAST(cy AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * 1000000000000.0, 0) AS BIGINT)) AS HUGEINT) AS hy_n
        |  FROM colm CROSS JOIN nt)
        |SELECT levels_x, levels_y,
        |  round_even(CAST(mi_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |    / 1000000000000.0, 6) AS mi_nats,
        |  CASE WHEN (-CAST(hx_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |        / 1000000000000.0) *
        |      (-CAST(hy_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |        / 1000000000000.0) > 0.0 THEN
        |    round_even((CAST(mi_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |        / 1000000000000.0) /
        |      sqrt((-CAST(hx_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |          / 1000000000000.0) *
        |        (-CAST(hy_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |          / 1000000000000.0)), 6)
        |  END AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin),

    // Adamic–Adar link prediction over the supplier co-purchase graph:
    // suppliers sharing parts score Σ_p 1/ln(deg p) — rare shared parts
    // count more. The pair fan-out is keyed on the part (Σ deg² — the
    // triangle_count shape, hash-partitioned and AQE-skew-splittable;
    // a web-scale corpus caps hub degrees first, the stop-gram move).
    // Per-part weights quantize to pico-units before the pair sum;
    // deg<2 parts drop (no pair, and ln 1 = 0 would divide by zero).
    QueryDef("adamic_adar", (s, dir) => {
      val e = Graphs.supplierPart(t(s, dir, "lineitem"))
      val degw = e.groupBy("dst").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
        .select(col("dst"),
          bround(lit(1000000000000.0) / log(col("deg").cast("double")))
            .cast("long").as("w_pico"))
      // ew materializes ONCE: the pair self-join consumes it on
      // BOTH sides, and the optimizer rebuilt the scan→distinct→degree
      // chain per consumer (profiled at sf0.1: the distinct's map stage
      // ran twice, ~1 s of duplicated task time). The checkpoint is the
      // weighted edge list — 3 narrow longs per row, a fraction of the
      // lineitem scan it replaces.
      val ew = e.join(degw, "dst").localCheckpoint()
      val pa = ew.select(col("dst"), col("src").as("sa"), col("w_pico"))
      val pb = ew.select(col("dst"), col("src").as("sb"))
      pa.join(pb, Seq("dst")).filter(col("sa") < col("sb"))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_common"), sum("w_pico").as("w_sum"))
        .select(Graphs.key(col("sa")).as("sa"),
          Graphs.key(col("sb")).as("sb"), col("n_common"),
          bround(col("w_sum").cast("double") / lit(1000000000000.0), 6)
            .as("aa_score"))
        .orderBy(col("aa_score").desc, col("sa").asc, col("sb").asc)
        .limit(20)
    },
      """WITH e AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem),
        |degw AS (SELECT pk,
        |    CAST(round_even(1000000000000.0 /
        |      ln(CAST(count(*) AS DOUBLE)), 0) AS BIGINT) AS w_pico
        |  FROM e GROUP BY pk HAVING count(*) >= 2)
        |SELECT a.sk AS sa, b.sk AS sb,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  round_even(CAST(CAST(sum(w_pico) AS HUGEINT) AS DOUBLE)
        |    / 1000000000000.0, 6) AS aa_score
        |FROM e a JOIN degw USING (pk) JOIN e b USING (pk)
        |WHERE a.sk < b.sk
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, sa ASC, sb ASC
        |LIMIT 20""".stripMargin),

    // Asymmetric containment near-dup (|A∩B|/|A| ≥ 0.8): the
    // doc-inside-doc duplication class MinHash/Jaccard structurally
    // miss — see [[graft.llm.Dedup.containmentPairs]] for the one-sided
    // prefix-filter candidate scheme.
    // Permutation test — the assumption-free sibling of welch_ttest:
    // the observed |mean difference| between the md5 A/B arms is
    // ranked against 63 md5-seeded label permutations of the SAME
    // metric. Randomization is per USER (the experiment unit), so the
    // 63 re-labelings explode over the per-user aggregate (|users|·63
    // rows), never over raw events; every permutation is a salted
    // deterministic bucket, so the oracle replays the exact null
    // distribution and the p-value is bit-stable. Both engines spell
    // the identical IEEE mean chain.
    QueryDef("permutation_test", (s, dir) => {
      val J = 63
      val users = Tables.events(s, dir)
        .select(col("user_id"),
          bround(col("value") * lit(1000000.0)).cast("long").as("v"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("c"), sum("v").as("sv"))
        .localCheckpoint() // observed arm split + 63 permutations
      def diff(armCol: Column, df: DataFrame, keys: Seq[String]) = {
        val base = if (keys.isEmpty) df.withColumn("arm", armCol)
          .groupBy().agg(
            sum(when(col("arm") === 0, col("sv"))).as("s0"),
            sum(when(col("arm") === 0, col("c"))).as("n0"),
            sum(when(col("arm") === 1, col("sv"))).as("s1"),
            sum(when(col("arm") === 1, col("c"))).as("n1"))
        else df.withColumn("arm", armCol).groupBy(keys.map(col): _*)
          .agg(
            sum(when(col("arm") === 0, col("sv"))).as("s0"),
            sum(when(col("arm") === 0, col("c"))).as("n0"),
            sum(when(col("arm") === 1, col("sv"))).as("s1"),
            sum(when(col("arm") === 1, col("c"))).as("n1"))
        base.withColumn("d",
          abs(col("s0").cast("double") / col("n0").cast("double")
            - col("s1").cast("double") / col("n1").cast("double")))
      }
      val obs = diff(Dedup.hashBucket(
          concat(lit("ab:"), col("user_id").cast("string")), 2L)
          .cast("int"), users, Nil)
        .select(col("d").as("obs_d"))
      val perms = diff(Dedup.hashBucket(
          concat(lit("perm:"), col("j").cast("string"), lit(":"),
            col("user_id").cast("string")), 2L).cast("int"),
        users.select(col("user_id"), col("c"), col("sv"),
          explode(sequence(lit(0), lit(J - 1))).as("j")),
        Seq("j"))
      perms.crossJoin(broadcast(obs))
        .agg(count(lit(1)).as("n_perms"),
          sum(when(col("d") >= col("obs_d"), 1L).otherwise(0L))
            .as("n_ge"),
          max("obs_d").as("od"))
        .select(bround(col("od"), 4).as("obs_diff_micros"),
          col("n_perms"), col("n_ge"),
          bround((col("n_ge") + 1).cast("double")
            / (col("n_perms") + 1).cast("double"), 6).as("p_value"))
    },
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT))
        |      AS BIGINT) AS sv
        |  FROM events GROUP BY 1),
        |ob AS (SELECT abs(
        |    CAST(sum(CASE WHEN arm = 0 THEN sv END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN arm = 0 THEN c END) AS DOUBLE)
        |    - CAST(sum(CASE WHEN arm = 1 THEN sv END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN arm = 1 THEN c END) AS DOUBLE))
        |    AS obs_d
        |  FROM (SELECT u.*,
        |      CAST(CAST('0x' || substr(md5('ab:' || user_id), 1, 7)
        |        AS BIGINT) % 2 AS INT) AS arm
        |    FROM u)),
        |p AS (SELECT j, abs(
        |    CAST(sum(CASE WHEN arm = 0 THEN sv END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN arm = 0 THEN c END) AS DOUBLE)
        |    - CAST(sum(CASE WHEN arm = 1 THEN sv END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN arm = 1 THEN c END) AS DOUBLE))
        |    AS d
        |  FROM (SELECT u.*, t.j,
        |      CAST(CAST('0x' || substr(md5('perm:' || t.j || ':'
        |        || user_id), 1, 7) AS BIGINT) % 2 AS INT) AS arm
        |    FROM u, range(0, 63) t(j))
        |  GROUP BY 1)
        |SELECT
        |  CAST(round_even(max(ob.obs_d), 4) AS DOUBLE)
        |    AS obs_diff_micros,
        |  CAST(count(*) AS BIGINT) AS n_perms,
        |  CAST(sum(CASE WHEN p.d >= ob.obs_d THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ge,
        |  CAST(round_even(
        |    CAST(sum(CASE WHEN p.d >= ob.obs_d THEN 1 ELSE 0 END) + 1
        |      AS DOUBLE)
        |    / CAST(count(*) + 1 AS DOUBLE), 6) AS DOUBLE) AS p_value
        |FROM p CROSS JOIN ob""".stripMargin),

    // Durbin–Watson autocorrelation diagnostic on the daily value
    // series per event type — the "are my residuals independent" check
    // an OLS trend readout (ols_fit) owes its user: residuals from the
    // intercept-only model spelled as SCALED integers ẽ_d = n·y_d − Σy
    // (the n factor cancels in the ratio, so no mean division ever
    // happens), squared differences of consecutive days and squared
    // levels summed in DECIMAL(38,0), ONE IEEE division at the end.
    // DW ≈ 2 ⇒ independent; < 1 ⇒ strong positive autocorrelation.
    // The lag runs over the bounded per-type DAY grid, never raw rows.
    QueryDef("durbin_watson", (s, dir) => {
      val d38 = "decimal(38,0)"
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .as("d"))
        .agg(sum(bround(col("value") * lit(1000000.0)).cast("long"))
          .as("y"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val e = daily.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("d"), col("n"),
          (col("n").cast(d38) * col("y") - col("sy")).as("et"))
        .withColumn("ep", lag("et", 1).over(w))
      e.groupBy("event_type").agg(
          max("n").as("n_days"),
          sum(when(col("ep").isNotNull,
            (col("et") - col("ep")) * (col("et") - col("ep"))))
            .cast(DecimalType(38, 0)).as("num"),
          sum(col("et") * col("et")).cast(DecimalType(38, 0)).as("den"))
        .select(col("event_type"), col("n_days"),
          // chk() BOTH aggregates: a DECIMAL(38,0) overflow in num would
          // silently NULL dw under ANSI-off while DuckDB's HUGEINT keeps
          // computing — raise loudly instead of gate-mismatching quietly.
          // num is LEGITIMATELY null for a 1-day series (empty lag sum),
          // so the overflow check only arms when a lagged pair existed.
          when(chk(col("den"), "durbin_watson") =!= 0,
            bround(when(col("n_days") > 1,
                chk(col("num"), "durbin_watson")).cast("double")
              / col("den").cast("double"), 6)).as("dw"))
        .orderBy("event_type")
    },
      """WITH daily AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy FROM daily GROUP BY 1),
        |e AS (SELECT d.event_type, d.d, t.n,
        |    CAST(t.n AS HUGEINT) * d.y - t.sy AS et
        |  FROM daily d JOIN tot t USING (event_type)),
        |l AS (SELECT event_type, n, et,
        |    lag(et) OVER (PARTITION BY event_type ORDER BY d) AS ep
        |  FROM e)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |  CASE WHEN sum(et * et) <> 0 THEN
        |    CAST(round_even(
        |      CAST(sum(CASE WHEN ep IS NOT NULL
        |        THEN (et - ep) * (et - ep) END) AS DOUBLE)
        |      / CAST(sum(et * et) AS DOUBLE), 6) AS DOUBLE) END AS dw
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin),

    // Weighted lower median — the quantity-weighted price midpoint per
    // return flag (impute_median's unweighted grid rule generalized to
    // weights): cumulative WEIGHT over the distinct-price grid, median
    // = smallest price whose cumulative weight clears ⌈W/2⌉. Prices
    // quantize to integer cents, weights to integer quantity cents, so
    // the cut is exact; the output is an actual data value.
    QueryDef("weighted_median", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        bround(col("l_extendedprice") * 100).cast("long").as("v"),
        bround(col("l_quantity") * 100).cast("long").as("wt"))
      val grid = li.groupBy("g", "v").agg(sum("wt").as("w"))
      val wspec = Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.select(col("g"), col("v"), col("w"),
        sum("w").over(wspec).as("cum"))
      val tot = grid.groupBy("g").agg(sum("w").as("tw"),
        count(lit(1)).as("n_prices"))
      cum.join(broadcast(tot), Seq("g"))
        .groupBy("g").agg(
          max("tw").as("total_weight"), max("n_prices").as("n_prices"),
          min(when(col("cum") >= expr("CAST((tw + 1) DIV 2 AS BIGINT)"),
            col("v"))).as("wmedian_cents"))
        .orderBy("g")
    },
      """WITH li AS (SELECT l_returnflag AS g,
        |    CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) AS v,
        |    CAST(round_even(l_quantity * 100, 0) AS BIGINT) AS wt
        |  FROM lineitem),
        |grid AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS w
        |  FROM li GROUP BY 1, 2),
        |cum AS (SELECT g, v, w, sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid),
        |tot AS (SELECT g, CAST(sum(w) AS BIGINT) AS tw,
        |    CAST(count(*) AS BIGINT) AS n_prices FROM grid GROUP BY 1)
        |SELECT c.g, max(t.tw) AS total_weight,
        |  max(t.n_prices) AS n_prices,
        |  CAST(min(CASE WHEN c.cum >= (t.tw + 1) // 2 THEN c.v END)
        |    AS BIGINT) AS wmedian_cents
        |FROM cum c JOIN tot t ON c.g = t.g
        |GROUP BY c.g ORDER BY c.g""".stripMargin),

    // Quantile alignment — the quantile-normalization readout (the
    // batch-effect check run before pooling heterogeneous sources):
    // each event type's lower p10/p50/p90 of the micro-quantized value
    // against the pooled distribution's, with the per-quantile shift.
    // Both CDFs run over DISTINCT-VALUE grids (the ks_test idiom —
    // window cost bounded by value cardinality, never row count), the
    // global grid derives from the per-type grid by a second tiny agg
    // (one scan total), and the lower-quantile rule keeps every
    // output an actual data value — no interpolation ulps.
    QueryDef("quantile_align", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"))
      val grid = ev.groupBy("event_type", "v")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the per-type AND pooled CDFs
      // bucketed inclusive CDFs: per-type and pooled
      // cumulatives through DistributedRank.withCumBefore + own
      // weight — no one-task-per-type sort on a near-unique grid
      val cumT = graft.ops.DistributedRank.withCumBefore(
          grid, Seq("event_type"), col("v"), Seq("c"), width = 1 << 20)
        .select(col("event_type"), col("v"),
          (col("cum_c") + col("c")).as("cum"))
      val nT = grid.groupBy("event_type").agg(sum("c").as("n"))
      def rk(p: Int) = expr(s"CAST(($p * n + 99) DIV 100 AS BIGINT)")
      def qcol(p: Int, as: String) =
        min(when(col("cum") >= col(s"rk$p"), col("v"))).as(as)
      val qT = cumT.join(broadcast(nT
          .select(col("event_type"), rk(10).as("rk10"), rk(50).as("rk50"),
            rk(90).as("rk90"))), Seq("event_type"))
        .groupBy("event_type")
        .agg(qcol(10, "q10"), qcol(50, "q50"), qcol(90, "q90"))
      val gGrid = grid.groupBy("v").agg(sum("c").as("c"))
      val cumG = graft.ops.DistributedRank.withCumBefore(
          gGrid, Seq.empty, col("v"), Seq("c"), width = 1 << 20)
        .select(col("v"), (col("cum_c") + col("c")).as("cum"))
      val qG = cumG.crossJoin(broadcast(gGrid.agg(sum("c").as("n"))
          .select(rk(10).as("rk10"), rk(50).as("rk50"), rk(90).as("rk90"))))
        .agg(qcol(10, "g10"), qcol(50, "g50"), qcol(90, "g90"))
      qT.crossJoin(broadcast(qG))
        .select(col("event_type"), col("q10"), col("q50"), col("q90"),
          col("g10"), col("g50"), col("g90"),
          (col("q50") - col("g50")).as("shift50_micros"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
        |  FROM events),
        |grid AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |cumt AS (SELECT event_type, v, sum(c) OVER (
        |    PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid),
        |nt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    CAST((10 * sum(c) + 99) // 100 AS BIGINT) AS rk10,
        |    CAST((50 * sum(c) + 99) // 100 AS BIGINT) AS rk50,
        |    CAST((90 * sum(c) + 99) // 100 AS BIGINT) AS rk90
        |  FROM grid GROUP BY 1),
        |qt AS (SELECT c.event_type,
        |    min(CASE WHEN c.cum >= n.rk10 THEN c.v END) AS q10,
        |    min(CASE WHEN c.cum >= n.rk50 THEN c.v END) AS q50,
        |    min(CASE WHEN c.cum >= n.rk90 THEN c.v END) AS q90
        |  FROM cumt c JOIN nt n USING (event_type) GROUP BY 1),
        |ggrid AS (SELECT v, CAST(sum(c) AS BIGINT) AS c
        |  FROM grid GROUP BY 1),
        |cumg AS (SELECT v, sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ggrid),
        |ng AS (SELECT CAST((10 * sum(c) + 99) // 100 AS BIGINT) AS rk10,
        |    CAST((50 * sum(c) + 99) // 100 AS BIGINT) AS rk50,
        |    CAST((90 * sum(c) + 99) // 100 AS BIGINT) AS rk90
        |  FROM ggrid),
        |qg AS (SELECT
        |    min(CASE WHEN c.cum >= ng.rk10 THEN c.v END) AS g10,
        |    min(CASE WHEN c.cum >= ng.rk50 THEN c.v END) AS g50,
        |    min(CASE WHEN c.cum >= ng.rk90 THEN c.v END) AS g90
        |  FROM cumg c CROSS JOIN ng)
        |SELECT qt.event_type, qt.q10, qt.q50, qt.q90,
        |  qg.g10, qg.g50, qg.g90,
        |  qt.q50 - qg.g50 AS shift50_micros
        |FROM qt CROSS JOIN qg ORDER BY qt.event_type""".stripMargin),

    // One exact ALS half-step — the distributed-recommender primitive:
    // with item factors FIXED (a deterministic integer embedding of the
    // part key), each user's d=2 factor vector solves the 2×2 ridge
    // normal equations (YᵀY + λI)x = Yᵀr by Cramer's rule. Everything
    // up to the two final divisions is EXACT integer arithmetic (the
    // moments are small-integer products summed per user — one
    // map-side-combined hash-agg, no joins, no iteration state), and
    // λ=1 makes det ≥ 1 so the solve never degenerates. This is the
    // per-entity least-squares shape a full ALS iterates; the integer
    // moments ride along as the audit witnesses. At 100 TB: one
    // shuffle on the user key, factors broadcast back for the next
    // half-step.
    QueryDef("als_step", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").as("user_id"),
        (pmod(col("l_partkey"), lit(7)) - 3).as("y1"),
        (pmod(col("l_partkey"), lit(5)) - 2).as("y2"),
        bround(col("l_quantity")).cast("long").as("r"))
      val m = li.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        (sum(col("y1") * col("y1")) + 1).as("a11"),
        sum(col("y1") * col("y2")).as("a12"),
        (sum(col("y2") * col("y2")) + 1).as("a22"),
        sum(col("y1") * col("r")).as("b1"),
        sum(col("y2") * col("r")).as("b2"))
      val det = col("a11") * col("a22") - col("a12") * col("a12")
      m.select(col("user_id"), col("n"),
          col("a11"), col("a12"), col("a22"), col("b1"), col("b2"),
          bround((col("a22") * col("b1") - col("a12") * col("b2"))
            .cast("double") / det.cast("double"), 6).as("x1"),
          bround((col("a11") * col("b2") - col("a12") * col("b1"))
            .cast("double") / det.cast("double"), 6).as("x2"))
        .orderBy("user_id")
    },
      """WITH li AS (SELECT l_suppkey AS user_id,
        |    (l_partkey % 7) - 3 AS y1, (l_partkey % 5) - 2 AS y2,
        |    CAST(round_even(l_quantity, 0) AS BIGINT) AS r
        |  FROM lineitem),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y1 * y1) + 1 AS BIGINT) AS a11,
        |    CAST(sum(y1 * y2) AS BIGINT) AS a12,
        |    CAST(sum(y2 * y2) + 1 AS BIGINT) AS a22,
        |    CAST(sum(y1 * r) AS BIGINT) AS b1,
        |    CAST(sum(y2 * r) AS BIGINT) AS b2
        |  FROM li GROUP BY 1)
        |SELECT user_id, n, a11, a12, a22, b1, b2,
        |  CAST(round_even(CAST(a22 * b1 - a12 * b2 AS DOUBLE)
        |    / CAST(a11 * a22 - a12 * a12 AS DOUBLE), 6) AS DOUBLE) AS x1,
        |  CAST(round_even(CAST(a11 * b2 - a12 * b1 AS DOUBLE)
        |    / CAST(a11 * a22 - a12 * a12 AS DOUBLE), 6) AS DOUBLE) AS x2
        |FROM m ORDER BY user_id""".stripMargin),

    QueryDef("containment_neardup", (s, dir) =>
      graft.llm.Dedup.containmentPairs(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+')
        |    AS tk FROM documents),
        |tok AS (SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |    FROM tk WHERE len(tk) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
        |df AS (SELECT gram, count(*) AS df FROM tok GROUP BY 1),
        |rk AS (SELECT tok.doc_id, tok.gram, sz.sz,
        |    row_number() OVER (PARTITION BY tok.doc_id
        |      ORDER BY df.df, tok.gram) AS rn
        |  FROM tok JOIN df USING (gram) JOIN sz USING (doc_id)),
        |pre AS (SELECT doc_id, gram FROM rk
        |  WHERE rn <= sz - ceil(0.8 * sz) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pre a JOIN tok b
        |  ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c JOIN tok ta ON ta.doc_id = c.doc_a
        |    JOIN tok tb ON tb.doc_id = c.doc_b AND ta.gram = tb.gram
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, CAST(inter AS BIGINT) AS inter,
        |  round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Multiset set operations (the ALL twins of set_ops): INTERSECT ALL
    // keeps min(multiplicity), EXCEPT ALL subtracts multiplicities —
    // the semantics that matter when the key repeats (a customer with
    // three urgent orders is three rows, not one). Both execute as one
    // hash-partitioned count-compare per key, no row explosion.
    QueryDef("set_ops_all", (s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val fstatus = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      urgent.intersectAll(fstatus)
        .agg(count(lit(1)).as("both_all_cnt"))
        .crossJoin(urgent.exceptAll(fstatus)
          .agg(count(lit(1)).as("only_urgent_all_cnt")))
    },
      """SELECT * FROM
        |(SELECT CAST(count(*) AS BIGINT) AS both_all_cnt FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |CROSS JOIN
        |(SELECT CAST(count(*) AS BIGINT) AS only_urgent_all_cnt FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))"""
        .stripMargin),

    // Per-user behavioral diversity — Gini–Simpson index 1 − Σ(c/n)²
    // = (n² − Σc²)/n², an EXACT rational per user (unlike Shannon
    // entropy there is no ln to quantize), micro-quantized once and
    // folded into a percent-point histogram: the user-segmentation feature
    // (specialists vs generalists) a personalization pipeline
    // computes corpus-wide. Two keyed aggregates, both on user_id —
    // one shuffle.
    QueryDef("user_diversity", (s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n"), sum(col("c") * col("c")).as("c2"))
        .select(bround(lit(1000000.0) *
          (col("n") * col("n") - col("c2")).cast("double") /
          (col("n") * col("n")).cast("double")).cast("long")
          .as("d_micro"))
      per.select(expr("CAST(d_micro DIV 10000 AS BIGINT)").as("pct"))
        .groupBy("pct").agg(count(lit(1)).as("n_users"))
        .orderBy("pct")
    },
      """WITH pc AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |pu AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * c) AS BIGINT) AS c2
        |  FROM pc GROUP BY 1),
        |dm AS (SELECT CAST(round_even(1000000.0 *
        |      CAST(n * n - c2 AS DOUBLE) / CAST(n * n AS DOUBLE), 0)
        |      AS BIGINT) AS d_micro
        |  FROM pu)
        |SELECT d_micro // 10000 AS pct,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM dm GROUP BY 1 ORDER BY 1""".stripMargin),

    // Burstiness index (Goh & Barabási) of each user's inter-event
    // times, B = (σ−μ)/(σ+μ) — equivalently (√(nQ−S²) − S)/(√(nQ−S²)
    // + S) over the exact integer gap moments (S, Q in DECIMAL(38,0):
    // µs² gaps overflow BIGINT), so the only float op is one
    // correctly-rounded sqrt-of-integer — no libm slack. B→−1 is
    // clockwork, B→+1 is bursty; the per-user index buckets into a
    // 0.1-wide histogram. Users need ≥2 gaps. One user-keyed sort
    // feeds the lag; the rest is keyed aggregates.
    QueryDef("burstiness", (s, dir) => {
      // no event_id tiebreak needed: the gap MULTISET of a sorted
      // timestamp list is invariant under permutations of equal values
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"))
      val gaps = ev
        .select(col("user_id"),
          (col("us") - lag(col("us"), 1).over(w)).as("g"))
        .filter(col("g").isNotNull)
      val per = gaps.groupBy("user_id").agg(
          count(lit(1)).as("ng"), sum("g").cast(D38).as("sg"),
          sum(col("g").cast(D38) * col("g")).cast(D38).as("qg"))
        .filter(col("ng") >= 2)
      val disc = chk(col("ng").cast(D38) * col("qg") -
        col("sg") * col("sg"), "burstiness").cast("double")
      val b = (sqrt(disc) - col("sg").cast("double")) /
        (sqrt(disc) + col("sg").cast("double"))
      // all-identical timestamps give σ = μ = 0 → B undefined; drop
      per.filter(col("sg") > 0)
        .select(bround(b * lit(10.0)).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
        .orderBy("bucket")
    },
      """WITH ev AS (SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events),
        |gp AS (SELECT user_id,
        |    us - lag(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us) AS g
        |  FROM ev),
        |per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(g) AS HUGEINT) AS sg,
        |    CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS qg
        |  FROM gp WHERE g IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 2),
        |bb AS (SELECT
        |    CAST(round_even((sqrt(CAST(CAST(ng AS HUGEINT) * qg
        |        - sg * sg AS DOUBLE)) - CAST(sg AS DOUBLE)) /
        |      (sqrt(CAST(CAST(ng AS HUGEINT) * qg - sg * sg
        |        AS DOUBLE)) + CAST(sg AS DOUBLE)) * 10.0, 0)
        |      AS BIGINT) AS bucket
        |  FROM per WHERE sg > 0)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_users
        |FROM bb GROUP BY 1 ORDER BY 1""".stripMargin),

    // Rolling regression — the trailing-14-day OLS slope of the daily
    // series per day (the "is growth accelerating TODAY" readout a
    // metrics pipeline recomputes every morning): all five window
    // moments (n, Σt, Σx, Σt², Σtx) come from ONE bounded window pass
    // (t is the row index, so Σt/Σt² are exact small integers), the
    // slope numerator/denominator n·Σtx − Σt·Σx stay exact longs, and
    // each day spends one mirrored double chain. Only full windows
    // emit. Complements theilsen_trend (global, robust) and
    // holt_linear (recursive smoothing) with the windowed-refit shape.
    QueryDef("rolling_regression", (s, dir) => {
      val dd = dailySeries(s, dir)
      val w = Window.orderBy("day") // bounded: one row per day
      val idx = dd.select(col("day"), col("x"),
        row_number().over(w).cast("long").as("t"))
      val wr = w.rowsBetween(-13, 0)
      val mom = idx.select(col("day"),
        count(lit(1)).over(wr).as("m"),
        sum("t").over(wr).as("st"),
        sum("x").over(wr).as("sx"),
        sum(col("t") * col("t")).over(wr).as("stt"),
        sum(col("t") * col("x")).over(wr).as("stx"))
      val num = lit(14L) * col("stx") - col("st") * col("sx")
      val den = lit(14L) * col("stt") - col("st") * col("st")
      mom.filter(col("m") === 14)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          bround(when(den =!= 0, num.cast("double") /
            den.cast("double")), 6).as("slope_per_day"))
        .orderBy("day")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ix AS (SELECT day, x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM d),
        |mom AS (SELECT day,
        |    count(*) OVER wr AS m,
        |    CAST(sum(t) OVER wr AS BIGINT) AS st,
        |    CAST(sum(x) OVER wr AS BIGINT) AS sx,
        |    CAST(sum(t * t) OVER wr AS BIGINT) AS stt,
        |    CAST(sum(t * x) OVER wr AS BIGINT) AS stx
        |  FROM ix WINDOW wr AS (ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  round_even(CASE WHEN 14 * stt - st * st <> 0
        |    THEN CAST(14 * stx - st * sx AS DOUBLE) /
        |      CAST(14 * stt - st * st AS DOUBLE) END, 6)
        |    AS slope_per_day
        |FROM mom WHERE m = 14 ORDER BY day""".stripMargin),

    // CUPED variance reduction (Deng et al.) — the modern A/B-test
    // adjustment: per-user experiment metric y (second half of the
    // span) is debiased by the pre-period covariate x (first half)
    // via θ = cov(x,y)/var(x), pooled across both md5-assigned arms.
    // One user-keyed aggregate builds (x, y) in exact micros, one
    // hash-agg the five pooled moments (DECIMAL(38,0), chk-trapped),
    // and the adjusted means spend a single mirrored double chain.
    // ρ² (the variance-reduction fraction) rides along — the number
    // that justifies running CUPED at all. Split day = min_day + 15,
    // derived in-plan, no wall clock.
    QueryDef("cuped_adjust", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          bround(col("value") * lit(1000000.0)).cast("long").as("vm"))
      val split = ev.agg(date_add(min(col("day")), 15).as("cut"))
      val per = ev.crossJoin(broadcast(split))
        .groupBy("user_id")
        .agg(coalesce(sum(when(col("day") < col("cut"), col("vm"))),
            lit(0L)).as("x"),
          coalesce(sum(when(col("day") >= col("cut"), col("vm"))),
            lit(0L)).as("y"))
        .select(col("user_id"), col("x"), col("y"),
          Dedup.hashBucket(concat(lit("arm:"),
            col("user_id").cast("string")), 2L).as("arm"))
        .localCheckpoint() // pooled moments + per-arm means share it
      val mom = per.agg(count(lit(1)).as("n"),
        sum("x").cast(D38).as("sx"), sum("y").cast(D38).as("sy"),
        sum(col("x").cast(D38) * col("x")).cast(D38).as("sxx"),
        sum(col("y").cast(D38) * col("y")).cast(D38).as("syy"),
        sum(col("x").cast(D38) * col("y")).cast(D38).as("sxy"))
      val nD = col("n").cast(D38)
      val covN = chk(nD * col("sxy") - col("sx") * col("sy"),
        "cuped_adjust").cast("double")
      val varX = chk(nD * col("sxx") - col("sx") * col("sx"),
        "cuped_adjust").cast("double")
      val varY = chk(nD * col("syy") - col("sy") * col("sy"),
        "cuped_adjust").cast("double")
      val theta = when(varX > 0.0, covN / varX)
      val rho2 = when(varX > 0.0 && varY > 0.0,
        covN * covN / (varX * varY))
      val arms = per.groupBy("arm").agg(count(lit(1)).as("n_users"),
        sum("x").cast(D38).cast("double").as("sxg"),
        sum("y").cast(D38).cast("double").as("syg"))
      arms.crossJoin(broadcast(mom))
        .select(col("arm"), col("n_users"),
          bround(col("syg") / col("n_users").cast("double") /
            lit(1000000.0), 6).as("raw_mean"),
          bround((col("syg") / col("n_users").cast("double") -
            theta * (col("sxg") / col("n_users").cast("double") -
              col("sx").cast("double") / col("n").cast("double"))) /
            lit(1000000.0), 6).as("cuped_mean"),
          bround(theta, 6).as("theta"),
          bround(lit(100.0) * rho2, 3).as("var_reduction_pct"))
        .orderBy("arm")
    },
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS vm
        |  FROM events),
        |sp AS (SELECT min(day) + 15 AS cut FROM ev),
        |per AS (SELECT user_id,
        |    COALESCE(CAST(sum(CASE WHEN day < cut THEN vm END)
        |      AS BIGINT), 0) AS x,
        |    COALESCE(CAST(sum(CASE WHEN day >= cut THEN vm END)
        |      AS BIGINT), 0) AS y,
        |    CAST('0x' || substr(md5('arm:'
        |      || CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 2 AS arm
        |  FROM ev CROSS JOIN sp GROUP BY user_id),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM per),
        |gm AS (SELECT n, sx,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS covn,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS varx,
        |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vary
        |  FROM mom),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS sxg,
        |    CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS syg
        |  FROM per GROUP BY 1)
        |SELECT arm, n_users,
        |  round_even(syg / CAST(n_users AS DOUBLE) / 1000000.0, 6)
        |    AS raw_mean,
        |  round_even((syg / CAST(n_users AS DOUBLE) -
        |    (CASE WHEN varx > 0.0 THEN covn / varx END) *
        |    (sxg / CAST(n_users AS DOUBLE) -
        |      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0, 6)
        |    AS cuped_mean,
        |  round_even(CASE WHEN varx > 0.0 THEN covn / varx END, 6)
        |    AS theta,
        |  round_even(100.0 * (CASE WHEN varx > 0.0 AND vary > 0.0
        |    THEN covn * covn / (varx * vary) END), 3)
        |    AS var_reduction_pct
        |FROM arms CROSS JOIN gm ORDER BY arm""".stripMargin),

    // Closed-form ridge regression (two features + intercept via
    // centering) of line price on quantity and discount, with the OLS
    // twins alongside — the regularized companion of ols_fit/
    // logistic_irls_step, and the 2×2 normal-equation solve every
    // distributed GLM reduces to per iteration. All nine moments are
    // one hash-agg in DECIMAL(38,0) ≙ HUGEINT (chk-trapped); the
    // centered Gram terms A = n·Σxx' − Σx·Σx' stay exact; the solve
    // (det, Cramer) runs in ONE mirrored double chain with per-feature
    // λ = A_ii/1000 (ridge on the feature's own scale — invariant to
    // unit choice, deterministic, no tuning loop). Readout in dollars
    // per unit so both coefficient magnitudes are readable.
    QueryDef("ridge_regression", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        expr("CAST(l_quantity AS BIGINT)").as("q"),
        expr("CAST(bround(l_discount * 1000000) AS BIGINT)").as("d"),
        expr("CAST(bround(l_extendedprice * 100) AS BIGINT)").as("y"))
      val m = li.agg(count(lit(1)).as("n"),
        sum("q").cast(D38).as("s1"), sum("d").cast(D38).as("s2"),
        sum("y").cast(D38).as("sy"),
        sum(col("q").cast(D38) * col("q")).cast(D38).as("s11"),
        sum(col("d").cast(D38) * col("d")).cast(D38).as("s22"),
        sum(col("q").cast(D38) * col("d")).cast(D38).as("s12"),
        sum(col("q").cast(D38) * col("y")).cast(D38).as("s1y"),
        sum(col("d").cast(D38) * col("y")).cast(D38).as("s2y"))
      val nD = col("n").cast(D38)
      def g(sab: Column, sa: Column, sb: Column, what: String) =
        chk(nD * sab - sa * sb, what).cast("double")
      val a11 = g(col("s11"), col("s1"), col("s1"), "ridge_regression")
      val a22 = g(col("s22"), col("s2"), col("s2"), "ridge_regression")
      val a12 = g(col("s12"), col("s1"), col("s2"), "ridge_regression")
      val b1 = g(col("s1y"), col("s1"), col("sy"), "ridge_regression")
      val b2 = g(col("s2y"), col("s2"), col("sy"), "ridge_regression")
      val r11 = a11 + a11 / lit(1000.0)
      val r22 = a22 + a22 / lit(1000.0)
      val detR = r11 * r22 - a12 * a12
      val det0 = a11 * a22 - a12 * a12
      m.select(col("n"),
        bround(when(detR =!= 0.0,
          (r22 * b1 - a12 * b2) / detR / lit(100.0)), 6).as("ridge_qty"),
        bround(when(detR =!= 0.0,
          (r11 * b2 - a12 * b1) / detR * lit(10000.0)), 6)
          .as("ridge_disc"),
        bround(when(det0 =!= 0.0,
          (a22 * b1 - a12 * b2) / det0 / lit(100.0)), 6).as("ols_qty"),
        bround(when(det0 =!= 0.0,
          (a11 * b2 - a12 * b1) / det0 * lit(10000.0)), 6)
          .as("ols_disc"))
    },
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round_even(l_discount * 1000000, 0) AS BIGINT) AS d,
        |    CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS HUGEINT) AS s1,
        |    CAST(sum(d) AS HUGEINT) AS s2,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s11,
        |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS s22,
        |    CAST(sum(CAST(q AS HUGEINT) * d) AS HUGEINT) AS s12,
        |    CAST(sum(CAST(q AS HUGEINT) * y) AS HUGEINT) AS s1y,
        |    CAST(sum(CAST(d AS HUGEINT) * y) AS HUGEINT) AS s2y
        |  FROM li),
        |gm AS (SELECT n,
        |    CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE) AS a11,
        |    CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE) AS a22,
        |    CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE) AS a12,
        |    CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE) AS b1,
        |    CAST(CAST(n AS HUGEINT) * s2y - s2 * sy AS DOUBLE) AS b2
        |  FROM m)
        |SELECT n,
        |  round_even(CASE WHEN (a11 + a11 / 1000.0) * (a22 + a22
        |      / 1000.0) - a12 * a12 <> 0.0
        |    THEN ((a22 + a22 / 1000.0) * b1 - a12 * b2) /
        |      ((a11 + a11 / 1000.0) * (a22 + a22 / 1000.0) - a12 * a12)
        |      / 100.0 END, 6) AS ridge_qty,
        |  round_even(CASE WHEN (a11 + a11 / 1000.0) * (a22 + a22
        |      / 1000.0) - a12 * a12 <> 0.0
        |    THEN ((a11 + a11 / 1000.0) * b2 - a12 * b1) /
        |      ((a11 + a11 / 1000.0) * (a22 + a22 / 1000.0) - a12 * a12)
        |      * 10000.0 END, 6) AS ridge_disc,
        |  round_even(CASE WHEN a11 * a22 - a12 * a12 <> 0.0
        |    THEN (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12)
        |      / 100.0 END, 6) AS ols_qty,
        |  round_even(CASE WHEN a11 * a22 - a12 * a12 <> 0.0
        |    THEN (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)
        |      * 10000.0 END, 6) AS ols_disc
        |FROM gm""".stripMargin),

    // Cross-correlation function (lead–lag) between the view and
    // purchase daily series at lags −7..+7 — acf_daily's two-series
    // sibling, and the do-purchases-trail-views diagnostic. Per lag the
    // Pearson correlation runs over the PAIRED days only (join on the
    // shifted date), from exact integer moments (counts are integers;
    // n·Σvp − Σv·Σp etc. in DECIMAL(38,0) with the chk() trap), spent
    // in one mirrored double chain. Cost: |days|·15 exploded probe rows
    // joined back to the bounded grid — quadratic in nothing.
    QueryDef("cross_corr", (s, dir) => {
      val ev = Tables.events(s, dir)
      def daily(et: String, cn: String) = ev
        .filter(col("event_type") === et)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as(cn))
      val v = daily("view", "v").localCheckpoint() // 15-lag fan-out side
      val p = daily("purchase", "p")
      val pairs = v
        .select(explode(sequence(lit(-7), lit(7))).as("lag"),
          col("day"), col("v"))
        .select(col("lag"), date_add(col("day"), col("lag")).as("pday"),
          col("v"))
        .join(p.select(col("day").as("pday"), col("p")), Seq("pday"))
        .groupBy("lag").agg(
          count(lit(1)).as("n_pairs"),
          sum("v").cast(D38).as("sv"), sum("p").cast(D38).as("sp"),
          sum(col("v").cast(D38) * col("v")).cast(D38).as("svv"),
          sum(col("p").cast(D38) * col("p")).cast(D38).as("spp"),
          sum(col("v").cast(D38) * col("p")).cast(D38).as("svp"))
      val np = col("n_pairs").cast(D38)
      val num = chk(np * col("svp") - col("sv") * col("sp"), "cross_corr")
      val dv = chk(np * col("svv") - col("sv") * col("sv"), "cross_corr")
      val dp = chk(np * col("spp") - col("sp") * col("sp"), "cross_corr")
      pairs.select(col("lag").cast("long").as("lag"), col("n_pairs"),
          bround(when(dv > 0 && dp > 0, num.cast("double") /
            sqrt(chk(dv * dp, "cross_corr").cast("double"))), 6)
            .as("r"))
        .orderBy("lag")
    },
      """WITH v AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS p
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |pr AS (SELECT l.lag AS lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(v.v) AS HUGEINT) AS sv,
        |    CAST(sum(p.p) AS HUGEINT) AS sp,
        |    CAST(sum(CAST(v.v AS HUGEINT) * v.v) AS HUGEINT) AS svv,
        |    CAST(sum(CAST(p.p AS HUGEINT) * p.p) AS HUGEINT) AS spp,
        |    CAST(sum(CAST(v.v AS HUGEINT) * p.p) AS HUGEINT) AS svp
        |  FROM v CROSS JOIN range(-7, 8) l(lag)
        |  JOIN p ON p.day = v.day + CAST(l.lag AS INT)
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  round_even(CASE WHEN n_pairs * svv - sv * sv > 0
        |      AND n_pairs * spp - sp * sp > 0
        |    THEN CAST(n_pairs * svp - sv * sp AS DOUBLE) /
        |      sqrt(CAST((n_pairs * svv - sv * sv)
        |        * (n_pairs * spp - sp * sp) AS DOUBLE)) END, 6) AS r
        |FROM pr ORDER BY lag""".stripMargin),

    // Periodicity scan — seasonality strength of the daily series at
    // every candidate period p ∈ 2..14 WITHOUT trigonometry: fold the
    // series by t mod p and take the one-way-ANOVA R² of the folded
    // groups ((SSB)/(SST)). Unlike a periodogram there is no libm sin/
    // cos whose last-ulp disagreement could flap a quantized sum —
    // every moment (S_g, n_g, ΣX², S, n) is an exact integer, the two
    // rational terms Σ S_g²/n_g and S²/n floor-quantize via integer
    // DIV (≤1 count²-unit of floor error against magnitudes ~1e9,
    // mirrored by DuckDB's `//`), and each period's R² spends one
    // double chain. The weekly cycle must dominate: the spec pins
    // argmax = 7 on a planted grid, and all 13 rows emit (no top-k
    // selection to flap on near-ties).
    QueryDef("period_scan", (s, dir) => {
      val dd = dailySeries(s, dir)
      val w = Window.orderBy("day") // bounded: one row per day
      val idx = dd.select(col("x"),
          (row_number().over(w).cast("long") - 1).as("t"))
        .localCheckpoint() // 13-period fan-out + global moments
      val tot = idx.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      val folded = idx
        .select(explode(sequence(lit(2L), lit(14L))).as("p"), col("t"),
          col("x"))
        .select(col("p"), pmod(col("t"), col("p")).as("g"), col("x"))
        .groupBy("p", "g")
        .agg(count(lit(1)).as("ng"), sum("x").as("sg"))
        .groupBy("p")
        .agg(sum(expr("CAST(sg * sg DIV ng AS BIGINT)")).as("ssb_raw"))
      val sst = col("sxx") - expr("CAST(sx * sx DIV n AS BIGINT)")
      folded.crossJoin(broadcast(tot))
        .select(col("p"),
          bround(when(sst =!= 0,
            (col("ssb_raw") - expr("CAST(sx * sx DIV n AS BIGINT)"))
              .cast("double") / sst.cast("double")), 6).as("r2"))
        .orderBy("p")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ix AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM ix),
        |fold AS (SELECT pp.p AS p, ix.t % pp.p AS g,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(x) AS BIGINT) AS sg
        |  FROM ix CROSS JOIN range(2, 15) pp(p)
        |  GROUP BY 1, 2),
        |ssb AS (SELECT p, CAST(sum(sg * sg // ng) AS BIGINT) AS ssb_raw
        |  FROM fold GROUP BY 1)
        |SELECT p, round_even(CASE WHEN sxx - sx * sx // n <> 0
        |    THEN CAST(ssb_raw - sx * sx // n AS DOUBLE) /
        |      CAST(sxx - sx * sx // n AS DOUBLE) END, 6) AS r2
        |FROM ssb CROSS JOIN tot ORDER BY p""".stripMargin),

    // Hurst exponent by rescaled-range (R/S) analysis — long-range
    // dependence of the daily series (H≈0.5 random walk increments,
    // H→1 trending). Blocks of m ∈ {4,8,16} days (the fixture span is
    // 30 days — 16 is the largest power of two with a full block); within each block
    // the mean-adjusted cumulative deviation multiplies through by m
    // (m·Z_j = m·cum_j − j·S, the cusum_changepoint integer trick) so
    // the range R·m is an exact integer, and R/S = R·m/√(m·ΣX²−S²)
    // is one correctly-rounded double chain per block (sqrt of an
    // exact integer — no libm slack). Per-size means micro-quantize
    // before the cross-block sum; H = (ln r̄₁₆ − ln r̄₄)/(2 ln 2), the
    // equal-log-spacing least-squares slope. Output: per-size block
    // counts + mean R/S and the fitted H.
    QueryDef("hurst_rs", (s, dir) => {
      val dd = dailySeries(s, dir)
      val w = Window.orderBy("day") // bounded: one row per day
      val idx = dd.select(col("x"),
          (row_number().over(w).cast("long") - 1).as("t"))
        .localCheckpoint() // 3 block sizes fan out of it
      val blocks = idx
        .select(explode(array(lit(4L), lit(8L), lit(16L))).as("m"),
          col("t"), col("x"))
        .select(col("m"), expr("CAST(t DIV m AS BIGINT)").as("blk"),
          pmod(col("t"), col("m")).as("j"), col("x"))
      val bw = Window.partitionBy("m", "blk").orderBy("j")
      val z = blocks
        .select(col("m"), col("blk"), col("j"), col("x"),
          sum("x").over(bw.rowsBetween(Window.unboundedPreceding, 0))
            .as("cum"))
      val bs = z.groupBy("m", "blk").agg(count(lit(1)).as("len"),
        sum("x").as("sb"), sum(col("x") * col("x")).as("ssqb"))
      val zj = z.join(bs, Seq("m", "blk"))
        .filter(col("len") === col("m")) // full blocks only
        .select(col("m"), col("blk"), col("sb"), col("ssqb"),
          (col("m") * col("cum") - (col("j") + 1) * col("sb")).as("mz"))
      val rs = zj.groupBy("m", "blk")
        .agg(max("sb").as("sb"), max("ssqb").as("ssqb"),
          (greatest(max("mz"), lit(0L)) - least(min("mz"), lit(0L)))
            .as("rm"))
        .filter(col("m") * col("ssqb") - col("sb") * col("sb") > 0)
        .select(col("m"),
          bround(lit(1000000.0) * col("rm").cast("double") /
            sqrt((col("m") * col("ssqb") - col("sb") * col("sb"))
              .cast("double"))).cast("long").as("rs_micro"))
      val bySize = rs.groupBy("m")
        .agg(count(lit(1)).as("n_blocks"), sum("rs_micro").as("s_rs"))
        .select(col("m"), col("n_blocks"),
          (col("s_rs").cast("double") / col("n_blocks").cast("double") /
            lit(1000000.0)).as("mean_rs"))
        .localCheckpoint() // readout + the H pivot both consume it
      val h = bySize.agg(
        (log(max(when(col("m") === 16, col("mean_rs")))) -
          log(max(when(col("m") === 4, col("mean_rs"))))).as("dln"))
        .select((col("dln") / lit(2.0 * math.log(2.0))).as("hurst"))
      bySize.crossJoin(broadcast(h))
        .select(col("m"), col("n_blocks"), bround(col("mean_rs"), 6)
          .as("mean_rs"), bround(col("hurst"), 6).as("hurst"))
        .orderBy("m")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ix AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |bl AS (SELECT mm.m AS m, ix.t // mm.m AS blk, ix.t % mm.m AS j,
        |    ix.x AS x
        |  FROM ix CROSS JOIN (SELECT unnest([4, 8, 16]) AS m) mm),
        |z AS (SELECT m, blk, j, x,
        |    CAST(sum(x) OVER (PARTITION BY m, blk ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM bl),
        |bs AS (SELECT m, blk, CAST(count(*) AS BIGINT) AS len,
        |    CAST(sum(x) AS BIGINT) AS sb,
        |    CAST(sum(x * x) AS BIGINT) AS ssqb
        |  FROM z GROUP BY 1, 2),
        |zj AS (SELECT z.m, z.blk, bs.sb, bs.ssqb,
        |    z.m * z.cum - (z.j + 1) * bs.sb AS mz
        |  FROM z JOIN bs ON z.m = bs.m AND z.blk = bs.blk
        |  WHERE bs.len = z.m),
        |rs AS (SELECT m, blk,
        |    CAST(round_even(1000000.0 *
        |      CAST(greatest(max(mz), 0) - least(min(mz), 0) AS DOUBLE) /
        |      sqrt(CAST(m * max(ssqb) - max(sb) * max(sb) AS DOUBLE)),
        |      0) AS BIGINT) AS rs_micro
        |  FROM zj GROUP BY 1, 2
        |  HAVING m * max(ssqb) - max(sb) * max(sb) > 0),
        |bysize AS (SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(rs_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 1000000.0 AS mean_rs
        |  FROM rs GROUP BY 1),
        |h AS (SELECT (ln(max(CASE WHEN m = 16 THEN mean_rs END)) -
        |    ln(max(CASE WHEN m = 4 THEN mean_rs END))) / (2.0 * ln(2.0))
        |    AS hurst
        |  FROM bysize)
        |SELECT CAST(m AS BIGINT) AS m, n_blocks,
        |  round_even(mean_rs, 6) AS mean_rs,
        |  round_even(hurst, 6) AS hurst
        |FROM bysize CROSS JOIN h ORDER BY m""".stripMargin),

    // Kendall τ-b between the two daily series (event count vs distinct
    // users) — the rank-correlation companion of spearman_corr that
    // needs NO global rank at all: concordance is a property of PAIRS,
    // so the statistic is one bounded |days|² self-join (the theilsen
    // posture — quadratic in the TIME SPAN, never the corpus) plus two
    // tiny tie histograms. C, D, and the tie corrections n1/n2 are
    // exact integers; τ-b spends them in one mirrored double chain
    // ((C−D)/√((n0−n1)(n0−n2)), √ is correctly-rounded IEEE on both
    // engines, so identical integer inputs give identical bits).
    QueryDef("kendall_tau", (s, dir) => {
      val dd = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"),
          count_distinct(col("user_id")).as("y"))
        .localCheckpoint() // pair join (both sides) + two tie histograms
      val a = dd.select(col("day").as("da"), col("x").as("xa"),
        col("y").as("ya"))
      val b = dd.select(col("day").as("db"), col("x").as("xb"),
        col("y").as("yb"))
      val cd = a.join(b, col("da") < col("db"))
        .agg(
          sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
            (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
            (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
            .otherwise(0L)).as("discordant"))
      // DIV, not `/`: Spark's `/` on integer columns is DOUBLE division
      val n = dd.agg(count(lit(1)).as("n"))
        .select(expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").as("n0"),
          col("n").as("n_days"))
      val tx = dd.groupBy("x").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("CAST(c * (c - 1) DIV 2 AS BIGINT)")),
          lit(0L)).as("n1"))
      val ty = dd.groupBy("y").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("CAST(c * (c - 1) DIV 2 AS BIGINT)")),
          lit(0L)).as("n2"))
      cd.crossJoin(broadcast(n)).crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty))
        .select(col("n_days"), col("concordant"), col("discordant"),
          bround((col("concordant") - col("discordant")).cast("double") /
            sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
              .cast("double")), 6).as("tau_b"))
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cd AS (SELECT
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |        OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |        OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS discordant
        |  FROM d a JOIN d b ON a.day < b.day),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n0 FROM d),
        |t1 AS (SELECT COALESCE(CAST(sum(c * (c - 1) // 2) AS BIGINT),
        |      0) AS n1
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x)),
        |t2 AS (SELECT COALESCE(CAST(sum(c * (c - 1) // 2) AS BIGINT),
        |      0) AS n2
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY y))
        |SELECT n_days, concordant, discordant,
        |  round_even(CAST(concordant - discordant AS DOUBLE) /
        |    sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 6) AS tau_b
        |FROM cd, n, t1, t2""".stripMargin),

    // Wald–Wolfowitz runs test on the daily series: are above-mean and
    // below-mean days randomly interleaved, or do they clump (the
    // cheap seasonality/trend smoke alarm next to cusum_changepoint's
    // level-shift scan)? Sign classification compares x·n against Σx —
    // an exact integer inequality, no rational mean materializes; days
    // exactly at the mean drop (the standard treatment). R counts sign
    // flips via one lag over the bounded day grid; the z-score's μ and
    // σ² terms (2n₁n₂, 2n₁n₂−n) stay exact integers until the single
    // mirrored double chain.
    QueryDef("runs_test", (s, dir) => {
      val dd = dailySeries(s, dir)
      val tot = dd.agg(count(lit(1)).as("nall"), sum("x").as("sx"))
      val signed = dd.crossJoin(broadcast(tot))
        .filter(col("x") * col("nall") =!= col("sx"))
        .select(col("day"),
          when(col("x") * col("nall") > col("sx"), 1L).otherwise(0L)
            .as("sgn"))
      val w = Window.orderBy("day") // bounded: one row per day
      val runs = signed
        .select(col("sgn"),
          when(lag(col("sgn"), 1).over(w).isNull ||
            lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L)
            .as("flip"))
        .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_above"),
          sum(when(col("sgn") === 0, 1L).otherwise(0L)).as("n_below"),
          sum(col("flip")).as("runs"))
      val nn = (col("n_above") + col("n_below")).cast("long")
      val m2 = (lit(2L) * col("n_above") * col("n_below")).cast("long")
      runs.select(col("n_above"), col("n_below"), col("runs"),
        bround(when(col("n_above") > 0 && col("n_below") > 0 && nn > 1,
          (col("runs").cast("double") -
            (m2.cast("double") / nn.cast("double") + lit(1.0))) /
            sqrt((m2 * (m2 - nn)).cast("double") /
              (nn.cast("double") * nn.cast("double") *
                (nn - 1).cast("double")))), 6).as("z"))
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nall,
        |    CAST(sum(x) AS BIGINT) AS sx FROM d),
        |sg AS (SELECT day,
        |    CAST(CASE WHEN x * nall > sx THEN 1 ELSE 0 END AS BIGINT)
        |      AS sgn
        |  FROM d, tot WHERE x * nall <> sx),
        |fl AS (SELECT sgn,
        |    CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
        |      OR lag(sgn) OVER (ORDER BY day) <> sgn
        |    THEN 1 ELSE 0 END AS flip
        |  FROM sg),
        |r AS (SELECT
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(sum(flip) AS BIGINT) AS runs
        |  FROM fl)
        |SELECT n_above, n_below, runs,
        |  round_even(CASE
        |    WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
        |    THEN (CAST(runs AS DOUBLE) -
        |        (CAST(2 * n_above * n_below AS DOUBLE) /
        |          CAST(n_above + n_below AS DOUBLE) + 1.0)) /
        |      sqrt(CAST((2 * n_above * n_below) *
        |          (2 * n_above * n_below - (n_above + n_below))
        |          AS DOUBLE) /
        |        (CAST(n_above + n_below AS DOUBLE) *
        |          CAST(n_above + n_below AS DOUBLE) *
        |          CAST(n_above + n_below - 1 AS DOUBLE)))
        |    END, 6) AS z
        |FROM r""".stripMargin),

    // Isotonic calibration (PAVA) of the urgent-order rate over price
    // bins — THE calibration fit (Zadrozny & Elkan) an eval pipeline
    // runs on model scores; here the deterministic stand-in score is
    // the price bin. The fit uses the minimax identity fit_i =
    // max_{j≤i} min_{k≥i} avg(j..k) instead of the sequential
    // pool-adjacent-violators loop: every block average is a ratio of
    // CUMULATIVE-COUNT DIFFERENCES (exact integers), micro-quantized
    // once, and the max-of-min runs over the bounded bin×bin×bin grid
    // (≤19³ rows) via broadcast joins — corpus touches exactly one
    // hash-agg. Monotonicity of the output is a theorem, and the spec
    // gates it.
    QueryDef("isotonic_calibration", (s, dir) => {
      val o = t(s, dir, "orders")
      // bin on integer CENTS (decimal→long exact), never on a decimal
      // division whose engine-specific result scale could flap a
      // boundary price across the floor
      val bins = o.select(
          least(expr(
            "CAST(CAST(bround(o_totalprice * 100) AS BIGINT) DIV 3000000" +
              " AS BIGINT)"), lit(18L)).as("bin"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("u"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("u").as("k"))
      val w = Window.orderBy("bin") // bounded: ≤19 bins
      val cum = bins.select(col("bin"), col("n"), col("k"),
          sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("cn"),
          sum("k").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("ck"))
        .localCheckpoint() // j-side, k-side, and i-grid all read it
      val j = cum.select(col("bin").as("j"), (col("cn") - col("n")).as("pn"),
        (col("ck") - col("k")).as("pk"))
      val k = cum.select(col("bin").as("kk"), col("cn"), col("ck"))
      val jk = j.join(k, col("j") <= col("kk"))
        .select(col("j"), col("kk"),
          bround(lit(1000000.0) * (col("ck") - col("pk")).cast("double") /
            (col("cn") - col("pn")).cast("double")).cast("long").as("m"))
      val fit = jk
        .join(cum.select(col("bin").as("i")),
          col("j") <= col("i") && col("i") <= col("kk"))
        .groupBy("i", "j").agg(min("m").as("mn"))
        .groupBy("i").agg(max("mn").as("iso_micro"))
      cum.join(fit, col("bin") === col("i"))
        .select(col("bin"), col("n"), col("k").as("urgent"),
          bround(col("k").cast("double") / col("n").cast("double"), 6)
            .as("raw_rate"),
          bround(col("iso_micro").cast("double") / lit(1000000.0), 6)
            .as("iso_rate"))
        .orderBy("bin")
    },
      """WITH b AS (SELECT
        |    LEAST(CAST(round_even(o_totalprice * 100, 0) AS BIGINT)
        |      // 3000000, 18) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM orders GROUP BY 1),
        |c AS (SELECT bin, n, k,
        |    CAST(sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cn,
        |    CAST(sum(k) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ck
        |  FROM b),
        |jk AS (SELECT j.bin AS j, k2.bin AS kk,
        |    CAST(round_even(1000000.0 *
        |      CAST(k2.ck - (j.ck - j.k) AS DOUBLE) /
        |      CAST(k2.cn - (j.cn - j.n) AS DOUBLE), 0) AS BIGINT) AS m
        |  FROM c j JOIN c k2 ON j.bin <= k2.bin),
        |mn AS (SELECT i.bin AS i, jk.j AS j, min(jk.m) AS mn
        |  FROM jk JOIN c i ON jk.j <= i.bin AND i.bin <= jk.kk
        |  GROUP BY 1, 2),
        |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS iso_micro
        |  FROM mn GROUP BY 1)
        |SELECT c.bin, c.n, c.k AS urgent,
        |  round_even(CAST(c.k AS DOUBLE) / CAST(c.n AS DOUBLE), 6)
        |    AS raw_rate,
        |  round_even(CAST(iso_micro AS DOUBLE) / 1000000.0, 6)
        |    AS iso_rate
        |FROM c JOIN fit ON c.bin = fit.i
        |ORDER BY bin""".stripMargin),

    // Matrix profile (UCR) of the daily series: for every length-7
    // subsequence, the z-normalized distance to its nearest
    // non-overlapping neighbor — the motif/discord primitive of
    // time-series mining. Per-subsequence moments come from one
    // 7-row window pass (S, ΣX² → den = 7·ΣX²−S², exact longs); dot
    // products from a 7-way aligned-offset equi-join (7q² rows, q
    // bounded by the TIME SPAN); the correlation numerator 7·dot−SᵢSⱼ
    // stays an exact long, the den product goes through DECIMAL(38,0)
    // ≙ HUGEINT before its single cast, and d² = 14(1−ρ) quantizes to
    // 6dp BEFORE the per-i argmin (day tiebreak) so the nearest
    // neighbor can't flap on ulps. Zero-variance subsequences are
    // excluded both as queries and as neighbors.
    QueryDef("matrix_profile", (s, dir) => {
      val dd = dailySeries(s, dir)
      val w = Window.orderBy("day") // bounded: one row per day
      val idx = dd.select(col("day"), col("x"),
          row_number().over(w).cast("long").as("t"))
        .localCheckpoint() // moment window + 7 offset reads + day labels
      val mom = idx
        .select(col("day"), col("t"),
          sum("x").over(w.rowsBetween(0, 6)).as("sS"),
          sum(col("x") * col("x")).over(w.rowsBetween(0, 6)).as("ss2"),
          count(lit(1)).over(w.rowsBetween(0, 6)).as("m"))
        .filter(col("m") === 7)
        .select(col("day"), col("t"), col("sS"),
          (lit(7L) * col("ss2") - col("sS") * col("sS")).as("den"))
        .filter(col("den") > 0)
      val sub = idx.select(explode(sequence(lit(0L), lit(6L))).as("p"),
          col("t"), col("x"))
        .select((col("t") - col("p")).as("i"), col("p"), col("x"))
        .filter(col("i") >= 1)
      val dots = sub.select(col("i").as("ia"), col("p"), col("x").as("va"))
        .join(sub.select(col("i").as("ib"), col("p"), col("x").as("vb")),
          Seq("p"))
        .filter(col("ia") + 7 <= col("ib"))
        .groupBy("ia", "ib")
        .agg(sum(col("va") * col("vb")).as("dot"),
          count(lit(1)).as("terms"))
        .filter(col("terms") === 7)
      val ma = mom.select(col("t").as("ia"), col("day").as("da"),
        col("sS").as("sa"), col("den").as("dena"))
      val mb = mom.select(col("t").as("ib"), col("day").as("db"),
        col("sS").as("sb"), col("den").as("denb"))
      val pd = dots.join(ma, "ia").join(mb, "ib")
        .select(col("da"), col("db"),
          bround(lit(14.0) * (lit(1.0) -
            (lit(7L) * col("dot") - col("sa") * col("sb")).cast("double") /
              sqrt(chk(col("dena").cast(D38) * col("denb").cast(D38),
                "matrix_profile").cast("double"))), 6).as("d2"))
      val both = pd.select(col("da").as("qd"), col("db").as("nd"),
          col("d2"))
        .union(pd.select(col("db").as("qd"), col("da").as("nd"),
          col("d2")))
      val pick = Window.partitionBy("qd").orderBy(col("d2"), col("nd"))
      both.select(col("qd"), col("nd"), col("d2"),
          row_number().over(pick).as("rk"))
        .filter(col("rk") === 1)
        .select(date_format(col("qd"), "yyyy-MM-dd").as("sub_day"),
          date_format(col("nd"), "yyyy-MM-dd").as("nn_day"),
          col("d2").as("mp_dist"))
        .orderBy("sub_day")
    },
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ix AS (SELECT day, x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM d),
        |mom AS (SELECT day, t,
        |    CAST(sum(x) OVER w7 AS BIGINT) AS ss,
        |    CAST(sum(x * x) OVER w7 AS BIGINT) AS ss2,
        |    count(*) OVER w7 AS m
        |  FROM ix WINDOW w7 AS (ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
        |momf AS (SELECT day, t, ss, 7 * ss2 - ss * ss AS den
        |  FROM mom WHERE m = 7 AND 7 * ss2 - ss * ss > 0),
        |sub AS (SELECT ix.t - p.p AS i, p.p AS p, ix.x AS v
        |  FROM ix CROSS JOIN range(0, 7) p(p)
        |  WHERE ix.t - p.p >= 1),
        |dots AS (SELECT a.i AS ia, b.i AS ib,
        |    CAST(sum(a.v * b.v) AS BIGINT) AS dot,
        |    count(*) AS terms
        |  FROM sub a JOIN sub b ON a.p = b.p AND a.i + 7 <= b.i
        |  GROUP BY 1, 2),
        |pd AS (SELECT ma.day AS da, mb.day AS db,
        |    round_even(14.0 * (1.0 -
        |      CAST(7 * dot - ma.ss * mb.ss AS DOUBLE) /
        |      sqrt(CAST(CAST(ma.den AS HUGEINT) * mb.den AS DOUBLE))),
        |      6) AS d2
        |  FROM dots
        |  JOIN momf ma ON dots.ia = ma.t
        |  JOIN momf mb ON dots.ib = mb.t
        |  WHERE terms = 7),
        |bo AS (SELECT da AS qd, db AS nd, d2 FROM pd
        |  UNION ALL SELECT db, da, d2 FROM pd),
        |pk AS (SELECT qd, nd, d2,
        |    row_number() OVER (PARTITION BY qd ORDER BY d2, nd) AS rk
        |  FROM bo)
        |SELECT strftime(qd, '%Y-%m-%d') AS sub_day,
        |  strftime(nd, '%Y-%m-%d') AS nn_day, d2 AS mp_dist
        |FROM pk WHERE rk = 1 ORDER BY sub_day""".stripMargin)
  )
}
