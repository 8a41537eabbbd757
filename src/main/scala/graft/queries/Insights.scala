package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.{Scratch, Tables}
import graft.io.Tables.{read => t}
import graft.llm.{Dedup, TextAnalysis}
import graft.ops.Graphs
import graft.streaming.StreamRunner
import graft.streaming.StreamRunner.{Append, Complete, State, Update}

/** Funnel timing, exact correlation, iterative connected components,
  * corpus readability, and a nation-pair volume rollup. House
  * determinism rules apply throughout (see [[Relational]]): exact
  * integer/decimal accumulation, ONE mirrored IEEE chain at the end,
  * `bround` ≙ DuckDB `round_even`, total ORDER BY, no raw timestamps
  * in output.
  */
object Insights {

  private val D38 = DecimalType(38, 0)

  /** [[defs]]' `connected_components` body, returning (result,
    * propagation rounds actually RUN) so InsightsSpec can gate the
    * early exit.
    *
    * Connected components on the supplier–part bipartite graph by k=3
    * rounds of min-label propagation (nodes: supplier→2k, part→2k+1;
    * label = smallest node id seen within 3 hops; deterministic whether
    * or not propagation has converged). Each round is ONE equi-join
    * (edges ⋈ labels on dst) + min-aggregate; localCheckpoint truncates
    * the iterative lineage (the pagerank_iter precedent). At 100 TB
    * both sides hash-partition on the join key and the label table
    * keeps that partitioning across rounds — no per-round re-shuffle
    * of the edge table beyond the first.
    *
    * DELTA propagation (the cluster-scale lever PLANS.md called):
    * each round joins edges against only the labels that CHANGED
    * last round, not the whole label table. Per-round results are
    * IDENTICAL to full propagation — an unchanged neighbor's label
    * already contributed to the running min in an earlier round and
    * labels only decrease — so the fixed-3-round oracle still
    * hash-matches while the frontier (and the join's stream side)
    * shrinks as components settle. Round 1's frontier is every node
    * (initialization counts as a change). An EMPTY delta ends the
    * schedule early: no label changed, so every remaining
    * round would propagate nothing — the convergence detection a
    * sparse graph's fixed schedule wastes.
    */
  private[graft] def connectedComponents(
      s: SparkSession, dir: String): (DataFrame, Int) = {
    val edges = Graphs.symmetric(Graphs.supplierPart(t(s, dir, "lineitem")))
      .localCheckpoint()
    val lbl0 = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    val (st, rounds) = graft.ops.IterateUntilFixed.converge(
      Map("lbl" -> lbl0, "delta" -> lbl0), 3) { (st, _) =>
      val delta0 = st("delta")
      val cand = edges.join(delta0, edges("dst") === delta0("node"))
        .select(edges("src").as("node"), col("lbl"))
        .groupBy("node").agg(min("lbl").as("cand"))
      // ONE materialization per round: `next` and `delta` both
      // derive from this join — left unmaterialized, the harness's
      // per-frame checkpoints re-ran the edges⋈delta join + aggregate
      // chain once PER CONSUMER (profiled at sf0.1: 40 driver-side jobs
      // for 3 rounds, wall 7.1 s against 7.8 s of task time — job
      // round-trips, not compute). Pre-checkpointing `joined` makes the
      // two state frames single-stage scans of the materialized rows.
      val joined = st("lbl").join(cand, Seq("node"), "left")
        .localCheckpoint()
      val next = joined.select(col("node"),
        least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("lbl"))
      val delta = joined.filter(col("cand") < col("lbl"))
        .select(col("node"), col("cand").as("lbl"))
      (Map("lbl" -> next, "delta" -> delta), delta)
    }
    (st("lbl").groupBy("lbl").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_groups"))
      .orderBy("sz"), rounds)
  }

  /** The watermarked view⇄purchase interval join with the per-day
    * rollup run ENTIRELY inside the stream — three chained stateful
    * operators in append mode (Spark's multi-stateful-operator support:
    * stream-stream time-interval join → per-(day-window, user) count →
    * per-day-window sum + user count), so the memory sink holds the
    * ≤ n_days result grid instead of every joined pair. The previous
    * shape (append the raw join, aggregate the sink in batch) was the
    * round-11 weak item: a driver-resident pair table that grows with
    * the data. Now driver memory holds exactly the answer.
    *
    * Exact `n_users` without streaming count_distinct (unsupported):
    * the canonical two-level window aggregation — level 1 counts pairs
    * per (day, user), level 2 re-windows the window struct and counts
    * level-1 rows. Both levels' state is watermark-evicted.
    *
    * Append-mode windows only emit once the watermark passes them, so
    * the real stream unions a 2-row SENTINEL stream (a year-2100 view
    * for user −1 and purchase for user −2 — they advance BOTH filtered
    * branches' watermarks but join with nothing, so they never reach
    * the sinked grid). AvailableNow keeps running flush batches while
    * watermark advancement requires them, which drains every real
    * window through both aggregation levels.
    *
    * Returns the settled grid read back from the native parquet file
    * sink ([[StreamRunner]]); InsightsSpec gates the
    * BOUNDED-SINK claim (row count == distinct purchase days with a
    * joined view).
    */
  private[graft] def streamStreamJoinDaily(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scratch = Scratch.once(Scratch.dir(dir, "ssj_sentinel")) { tmp =>
      Seq((-1L, "view"), (-2L, "purchase")).toDF("user_id", "event_type")
        .select(col("user_id"),
          to_timestamp(lit("2100-01-01 00:00:00")).as("ts"),
          col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    val real = Tables.eventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val sentinels = Tables.stream(s, scratch)
    val ev = real.unionByName(sentinels)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 day")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 7 DAYS"))
    val grid = joined
      .groupBy(window(col("p_ts"), "1 day"), col("p_user"))
      .agg(count(lit(1)).as("n_pairs_u"))
      .groupBy(window(col("window"), "1 day").as("day"))
      .agg(sum("n_pairs_u").as("n_pairs"),
        count(lit(1)).as("n_users"))
      .select(date_format(col("day.start"), "yyyy-MM-dd").as("p_day"),
        col("n_pairs"), col("n_users"))
    StreamRunner.run(s, grid, Append, "ssj")
  }

  val defs: Seq[QueryDef] = Seq(

    // Time-to-convert between consecutive funnel stages (the metric the
    // reference's funnel report implies but never computes — it counts
    // stage survivors, this measures HOW LONG each hop takes). Per user:
    // first occurrence of each stage event; a hop converts when the
    // later stage's first occurrence strictly follows the earlier one's.
    // Deltas stay exact integer µs end to end; median/p90 are DISCRETE
    // order statistics (rank (n+1) div 2 / ceil(0.9n) via row_number),
    // so both engines pick the same element instead of interpolating;
    // the mean is the one IEEE division, mirrored. Scale shape: one
    // groupBy(user) pivot-aggregate (map-side combinable), then windows
    // over the converting-user set partitioned by 3 hop keys.
    QueryDef("funnel_conversion_time", (s, dir) => {
      def firstTs(et: String) =
        min(when(col("event_type") === et, unix_micros(col("ts"))))
      val f = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "view", "click", "purchase"))
        .groupBy("user_id")
        .agg(firstTs("signup").as("t_signup"), firstTs("view").as("t_view"),
          firstTs("click").as("t_click"), firstTs("purchase").as("t_purchase"))
      val hops = Seq(
        ("1:signup>view", "t_signup", "t_view"),
        ("2:view>click", "t_view", "t_click"),
        ("3:click>purchase", "t_click", "t_purchase"))
      val d = hops.map { case (p, a, b) =>
        f.filter(col(b) > col(a))
          .select(lit(p).as("hop"), (col(b) - col(a)).as("dus"))
      }.reduce(_ unionByName _)
      val w = Window.partitionBy("hop")
      val r = d.select(col("hop"), col("dus"),
        row_number().over(w.orderBy("dus")).as("rn"),
        count(lit(1)).over(w).as("n"), sum("dus").over(w).as("s"))
      r.groupBy("hop").agg(
          max("n").as("n_users"),
          min("dus").as("min_us"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("dus")))
            .as("median_us"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("dus")))
            .as("p90_us"),
          max("dus").as("max_us"),
          bround(max("s").cast("double") / max("n"), 3).as("avg_us"))
        .orderBy("hop")
    },
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type='signup' THEN epoch_us(ts) END) AS t_signup,
        |    min(CASE WHEN event_type='view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type='click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT '1:signup>view' AS hop, t_view - t_signup AS dus
        |    FROM f WHERE t_view > t_signup
        |  UNION ALL SELECT '2:view>click', t_click - t_view
        |    FROM f WHERE t_click > t_view
        |  UNION ALL SELECT '3:click>purchase', t_purchase - t_click
        |    FROM f WHERE t_purchase > t_click),
        |r AS (SELECT hop, dus,
        |    row_number() OVER (PARTITION BY hop ORDER BY dus) AS rn,
        |    count(*) OVER (PARTITION BY hop) AS n,
        |    sum(dus) OVER (PARTITION BY hop) AS s
        |  FROM d)
        |SELECT hop, CAST(max(n) AS BIGINT) AS n_users,
        |  CAST(min(dus) AS BIGINT) AS min_us,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dus END) AS BIGINT)
        |    AS median_us,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN dus END) AS BIGINT)
        |    AS p90_us,
        |  CAST(max(dus) AS BIGINT) AS max_us,
        |  round_even(CAST(max(s) AS DOUBLE) / max(n), 3) AS avg_us
        |FROM r GROUP BY hop ORDER BY hop""".stripMargin),

    // Exact Pearson correlation matrix over lineitem's numeric columns.
    // Inputs quantize to integer units (quantity is integral; price and
    // discount round half-even to cents/hundredths), every moment sum is
    // exact (BIGINT or DECIMAL(38,0) ≙ DuckDB HUGEINT), and each
    // coefficient is one mirrored IEEE chain over those exact integers —
    // corr(x,y) = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)).
    // ONE map-side-combined aggregate over the table; 1 output row —
    // the 100 TB shape is a single pass regardless of column count.
    QueryDef("correlation_matrix", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("q"),
        bround(col("l_extendedprice") * 100).cast("long").as("p"),
        bround(col("l_discount") * 100).cast("long").as("d"))
      val a = li.agg(
        count(lit(1)).cast(D38).as("n"),
        sum("q").cast(D38).as("sq"), sum("p").cast(D38).as("sp"),
        sum("d").cast(D38).as("sd"),
        sum(col("q").cast(D38) * col("q")).cast(D38).as("sqq"),
        sum(col("p").cast(D38) * col("p")).cast(D38).as("spp"),
        sum(col("d").cast(D38) * col("d")).cast(D38).as("sdd"),
        sum(col("q").cast(D38) * col("p")).cast(D38).as("sqp"),
        sum(col("q").cast(D38) * col("d")).cast(D38).as("sqd"),
        sum(col("p").cast(D38) * col("d")).cast(D38).as("spd"))
      // Moment products are bounded by DECIMAL(38,0); with ANSI off an
      // overflow would silently NULL where the oracle's HUGEINT raises,
      // so surface it loudly instead of diverging. (38 digits cover
      // ~1e38; n·Spp at cent-quantized prices ≤ ~1e9 rows stays <1e31.)
      def chk(c: Column): Column =
        when(col("n") > 0 && c.isNull,
          raise_error(lit("correlation_matrix: moment product overflowed" +
            " DECIMAL(38,0) — requantize inputs"))).otherwise(c)
      // Zero-variance columns make the denominator 0: Spark's Divide
      // (ANSI off) yields NULL while recent DuckDB defaults to IEEE
      // NaN/inf; guard both sides so degenerate data agrees on NULL.
      def corr(sxy: Column, sx: Column, sy: Column,
          sxx: Column, syy: Column): Column = {
        val n = col("n")
        val den = sqrt(chk(n * sxx - sx * sx).cast("double")) *
          sqrt(chk(n * syy - sy * sy).cast("double"))
        bround(when(den =!= 0.0,
          chk(n * sxy - sx * sy).cast("double") / den), 6)
      }
      a.select(
        col("n").cast("long").as("n_rows"),
        corr(col("sqp"), col("sq"), col("sp"), col("sqq"), col("spp"))
          .as("corr_qty_price"),
        corr(col("sqd"), col("sq"), col("sd"), col("sqq"), col("sdd"))
          .as("corr_qty_discount"),
        corr(col("spd"), col("sp"), col("sd"), col("spp"), col("sdd"))
          .as("corr_price_discount"))
    },
      """WITH x AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) AS p,
        |    CAST(round_even(l_discount * 100, 0) AS BIGINT) AS d
        |  FROM lineitem),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(q) AS HUGEINT) AS sq, CAST(sum(p) AS HUGEINT) AS sp,
        |    CAST(sum(d) AS HUGEINT) AS sd,
        |    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
        |    CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
        |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd,
        |    CAST(sum(CAST(q AS HUGEINT) * p) AS HUGEINT) AS sqp,
        |    CAST(sum(CAST(q AS HUGEINT) * d) AS HUGEINT) AS sqd,
        |    CAST(sum(CAST(p AS HUGEINT) * d) AS HUGEINT) AS spd
        |  FROM x)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) *
        |            sqrt(CAST(n * spp - sp * sp AS DOUBLE)) <> 0 THEN
        |    round_even(CAST(n * sqp - sq * sp AS DOUBLE) /
        |      (sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) *
        |       sqrt(CAST(n * spp - sp * sp AS DOUBLE))), 6)
        |  END AS corr_qty_price,
        |  CASE WHEN sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) *
        |            sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) <> 0 THEN
        |    round_even(CAST(n * sqd - sq * sd AS DOUBLE) /
        |      (sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) *
        |       sqrt(CAST(n * sdd - sd * sd AS DOUBLE))), 6)
        |  END AS corr_qty_discount,
        |  CASE WHEN sqrt(CAST(n * spp - sp * sp AS DOUBLE)) *
        |            sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) <> 0 THEN
        |    round_even(CAST(n * spd - sp * sd AS DOUBLE) /
        |      (sqrt(CAST(n * spp - sp * sp AS DOUBLE)) *
        |       sqrt(CAST(n * sdd - sd * sd AS DOUBLE))), 6)
        |  END AS corr_price_discount
        |FROM a""".stripMargin),

    // Connected components on the supplier–part bipartite graph by k=3
    // rounds of min-label propagation (nodes: supplier→2k, part→2k+1;
    // label = smallest node id seen within 3 hops; deterministic whether
    // or not propagation has converged). Each round is ONE equi-join
    // (edges ⋈ labels on dst) + min-aggregate; localCheckpoint truncates
    // the iterative lineage (the pagerank_iter precedent). At 100 TB
    // both sides hash-partition on the join key and the label table
    // keeps that partitioning across rounds — no per-round re-shuffle
    // of the edge table beyond the first.
    QueryDef("connected_components", (s, dir) =>
      connectedComponents(s, dir)._1,
      """WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
        |    l_partkey * 2 + 1 AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
        |l1 AS (SELECT node, min(lbl) AS lbl FROM (
        |    SELECT node, lbl FROM l0
        |    UNION ALL SELECT e.src AS node, t.lbl FROM e JOIN l0 t
        |      ON e.dst = t.node) u GROUP BY node),
        |l2 AS (SELECT node, min(lbl) AS lbl FROM (
        |    SELECT node, lbl FROM l1
        |    UNION ALL SELECT e.src AS node, t.lbl FROM e JOIN l1 t
        |      ON e.dst = t.node) u GROUP BY node),
        |l3 AS (SELECT node, min(lbl) AS lbl FROM (
        |    SELECT node, lbl FROM l2
        |    UNION ALL SELECT e.src AS node, t.lbl FROM e JOIN l2 t
        |      ON e.dst = t.node) u GROUP BY node),
        |c AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz FROM l3 GROUP BY lbl)
        |SELECT sz, CAST(count(*) AS BIGINT) AS n_groups
        |FROM c GROUP BY sz ORDER BY sz""".stripMargin),

    // Flesch-style readability per language over the documents corpus.
    // Per-doc word/sentence/syllable counts are exact regexp counts
    // (words = letter runs, syllables ≈ vowel-group runs, sentences =
    // terminal-punctuation runs, floored at 1); they aggregate as exact
    // integers per lang and the three ratios + the Flesch chain
    // (206.835 − 1.015·W/S − 84.6·Y/W) are the single mirrored IEEE
    // tail. Map-only until a |langs|-row aggregate — the 100 TB shape.
    QueryDef("readability_score", (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        expr("regexp_count(text, '[A-Za-z]+')").as("w"),
        expr("regexp_count(lower(text), '[aeiouy]+')").as("y"),
        greatest(expr("regexp_count(text, '[.!?]+')"), lit(1)).as("sn"))
      val wps = col("words").cast("double") / col("sentences")
      val spw = col("syllables").cast("double") / col("words")
      d.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("w").as("words"), sum("sn").as("sentences"),
          sum("y").as("syllables"))
        .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
          col("syllables"),
          bround(wps, 6).as("words_per_sentence"),
          bround(spw, 6).as("syllables_per_word"),
          bround(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
            .as("flesch"))
        .orderBy("lang")
    },
      """WITH d AS (SELECT lang,
        |    len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sn
        |  FROM documents),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS words,
        |    CAST(sum(sn) AS BIGINT) AS sentences,
        |    CAST(sum(y) AS BIGINT) AS syllables
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, words, sentences, syllables,
        |  round_even(CAST(words AS DOUBLE) / sentences, 6)
        |    AS words_per_sentence,
        |  round_even(CAST(syllables AS DOUBLE) / words, 6)
        |    AS syllables_per_word,
        |  round_even(206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |    - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) AS flesch
        |FROM a ORDER BY lang""".stripMargin),

    // TPC-H Q7-flavored cross-border volume: revenue between (supplier
    // nation, customer nation) pairs by ship year. Nation (25 rows)
    // broadcasts to both legs; lineitem⋈orders⋈customer/supplier are
    // the shuffle joins AQE sizes at runtime. Revenue accumulates in
    // DECIMAL(18,2) and only the final scalar casts to double.
    QueryDef("tpch_q7_like", (s, dir) => {
      def money(c: String) = col(c).cast(DecimalType(18, 2))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("ship_year"),
          (money("l_extendedprice") *
            (lit(1).cast(DecimalType(18, 2)) - money("l_discount")))
            .as("vol"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(count(lit(1)).as("n_items"),
          sum("vol").cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS ship_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q5-shaped composite (local-supplier volume): the 6-way
    // star join — region→nation broadcast-prunes customers AND
    // suppliers, the fact shuffles once on orderkey, and the
    // LOCAL-supplier condition (customer and supplier share a nation)
    // applies as a post-join filter on two already-joined dim columns,
    // never as a join explosion. The deepest join tree in the suite;
    // revenue stays DECIMAL until the final cast.
    QueryDef("tpch_q5_like", (s, dir) => {
      def money(c: String) = col(c).cast(DecimalType(18, 2))
      val nr = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (money("l_extendedprice") *
            (lit(1).cast(DecimalType(18, 2)) - money("l_discount")))
            .as("vol"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_items"),
          sum("vol").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("nation"))
    },
      """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2))
        |       - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE c.c_nationkey = s.s_nationkey
        |  AND r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, nation""".stripMargin),

    // Join-key skew audit over events.user_id — the "do I need to salt
    // this join" planning query. ONE map-side-combinable count per key,
    // then order statistics over the KEY table (|keys| ≪ |rows|);
    // discrete p50/p99 ranks so both engines pick the same element.
    // The single-partition window runs over key counts, not events —
    // at extreme key cardinality the production path is the
    // approx-quantile gate (quantile_gate), and the top-share/max here
    // stay exact either way.
    QueryDef("skew_stats", (s, dir) => {
      val c = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(lit(1))
      val r = c.select(col("c"),
        row_number().over(w.orderBy(col("c"), col("user_id"))).as("rn"),
        count(lit(1)).over(w).as("n"), sum("c").over(w).as("tot"))
      r.agg(
          max("n").as("n_keys"),
          max("tot").as("total_rows"),
          max("c").as("max_rows"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("c")))
            .as("p50_rows"),
          max(when(col("rn") === expr("(99 * n + 99) div 100"), col("c")))
            .as("p99_rows"))
        .select(col("n_keys"), col("total_rows"), col("max_rows"),
          col("p50_rows"), col("p99_rows"),
          bround(col("max_rows").cast("double") / col("p50_rows"), 6)
            .as("skew_ratio"),
          bround(col("max_rows").cast("double") / col("total_rows"), 6)
            .as("top_share"))
    },
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c, user_id) AS rn,
        |    count(*) OVER () AS n, sum(c) OVER () AS tot
        |  FROM c)
        |SELECT CAST(max(n) AS BIGINT) AS n_keys,
        |  CAST(max(tot) AS BIGINT) AS total_rows,
        |  CAST(max(c) AS BIGINT) AS max_rows,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS BIGINT)
        |    AS p50_rows,
        |  CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN c END)
        |    AS BIGINT) AS p99_rows,
        |  round_even(CAST(max(c) AS DOUBLE)
        |    / max(CASE WHEN rn = (n + 1) // 2 THEN c END), 6) AS skew_ratio,
        |  round_even(CAST(max(c) AS DOUBLE) / max(tot), 6) AS top_share
        |FROM r""".stripMargin),

    // Per-source duplicate inflation: rows vs distinct normalized-text
    // fingerprints (the corpus-hygiene number that says which source is
    // pasting the same text). Fingerprint spelling is the shared
    // [[TextAnalysis.fingerprint]] ≙ the oracle's md5 twin (pinned by
    // doc_fingerprint's MATCH). Hash-agg on 16-byte digests — the same
    // shape as exact dedup at 100 TB.
    QueryDef("dup_inflation", (s, dir) => {
      t(s, dir, "documents").groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text")))
            .as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          (col("n_docs") - col("n_unique")).as("dup_rows"),
          // an all-NULL-text source has n_unique = 0: Spark's Divide
          // (ANSI off) NULLs, DuckDB IEEEs to inf — pin NULL in both
          bround(when(col("n_unique") =!= 0,
            col("n_docs").cast("double") / col("n_unique")), 6)
            .as("inflation"))
        .orderBy("source")
    },
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')))) AS BIGINT) AS n_unique,
        |  CAST(count(*) - count(DISTINCT md5(trim(regexp_replace(
        |    lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS dup_rows,
        |  CASE WHEN count(DISTINCT md5(trim(regexp_replace(lower(text),
        |      '\s+', ' ', 'g')))) <> 0 THEN
        |    round_even(CAST(count(*) AS DOUBLE)
        |      / count(DISTINCT md5(trim(regexp_replace(lower(text),
        |        '\s+', ' ', 'g')))), 6)
        |  END AS inflation
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Corpus self-overlap (diversity) on a deterministic sample: 30
    // docs by md5 order (the ivf seed-sample idiom), all C(30,2) pairs,
    // exact 3-gram Jaccard each, mean/max over the pairs. Per-pair
    // Jaccards quantize to integer pico-units before the sum (an IEEE
    // double sum would be order-dependent); the mean is the one final
    // IEEE chain. The pair join is a 30-row broadcast self-join — the
    // corpus-scale work is only the sample scan, at any data size.
    QueryDef("self_overlap_sample", (s, dir) => {
      // sample BEFORE building gram sets: the eligibility filter is the
      // cheap token count (≙ the oracle's len(t) >= 3), so the corpus
      // pass is one regexp scan and the interpreted shingle HOF runs on
      // 30 rows, not the corpus (measured 3.0 s → sub-second at sf0.1)
      val g = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(size(TextAnalysis.tokens(col("text"))) >= 3)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(30)
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(col("text"))).as("grams"))
      val a = g.select(col("doc_id").as("id_a"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
      val pico = bround(
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb")))) * 1e12).cast("long")
      val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
        .select(pico.as("pj"))
      val nd = g.agg(count(lit(1)).as("n_docs"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          bround(sum("pj").cast("double") / count(lit(1)) / 1e12, 6)
            .as("avg_jaccard"),
          bround(max("pj").cast("double") / 1e12, 6).as("max_jaccard"))
        .crossJoin(nd)
        .select(col("n_docs"), col("n_pairs"), col("avg_jaccard"),
          col("max_jaccard"))
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t
        |  FROM documents),
        |gsets AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM toks WHERE len(t) >= 3),
        |smp AS (SELECT doc_id, grams FROM gsets
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 30),
        |p AS (
        |  SELECT CAST(round_even(
        |      (CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / len(list_distinct(a.grams || b.grams)))
        |      * 1000000000000.0, 0) AS BIGINT) AS pj
        |  FROM smp a JOIN smp b ON a.doc_id < b.doc_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round_even(CAST(sum(pj) AS DOUBLE) / count(*)
        |    / 1000000000000.0, 6) AS avg_jaccard,
        |  round_even(CAST(max(pj) AS DOUBLE) / 1000000000000.0, 6)
        |    AS max_jaccard
        |FROM p""".stripMargin),

    // The reference's funnel arithmetic applied to the data-cleaning
    // pipeline itself: survivors and drop-% through cumulative filter
    // stages (token floor → language allowlist → exact dedup). One
    // corpus pass computes per-doc stage flags; the dedup rank runs
    // only over stage-2 survivors (partitioned by 16-byte fingerprint);
    // the funnel itself is two 1-row aggregates unioned into 3 rows —
    // at 100 TB the report costs one scan plus one survivor-set window,
    // same as the cleaning job it audits.
    QueryDef("filter_funnel", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val p = d.select(col("doc_id"), col("fp"),
        (col("toks") >= 30).as("pass1"),
        (col("toks") >= 30 && col("lang").isin("en", "de", "fr"))
          .as("pass2"))
      val a = p.agg(count(lit(1)).as("n0"),
        sum(when(col("pass1"), 1L)).as("n1"),
        sum(when(col("pass2"), 1L)).as("n2"))
      val b = p.filter(col("pass2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .agg(sum(when(col("rn") === 1, 1L)).as("n3"))
      val wide = a.crossJoin(b)
      def stage(idx: Int, name: String, in: Column, out: Column) =
        wide.select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          in.as("n_in"), out.as("n_out"), (in - out).as("n_dropped"),
          when(in > 0,
            bround(lit(100.0) * (in - out) / in, 1)).as("drop_pct"))
      stage(1, "tokens>=30", col("n0"), col("n1"))
        .unionByName(stage(2, "lang in (en,de,fr)", col("n1"), col("n2")))
        .unionByName(stage(3, "exact-dedup", col("n2"), col("n3")))
        .orderBy("stage_idx")
    },
      """WITH d AS (SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\S+')) AS toks,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |p AS (SELECT doc_id, fp, (toks >= 30) AS pass1,
        |    (toks >= 30 AND lang IN ('en','de','fr')) AS pass2
        |  FROM d),
        |r AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM p WHERE pass2),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN pass1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN pass2 THEN 1 END) AS BIGINT) AS n2
        |  FROM p),
        |b AS (SELECT CAST(sum(CASE WHEN rn = 1 THEN 1 END) AS BIGINT)
        |    AS n3 FROM r),
        |w AS (SELECT * FROM a, b)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'tokens>=30' AS stage, n0 AS n_in,
        |    n1 AS n_out, n0 - n1 AS n_dropped,
        |    CASE WHEN n0 > 0
        |      THEN round_even(100.0 * (n0 - n1) / n0, 1) END AS drop_pct
        |  FROM w
        |  UNION ALL
        |  SELECT 2, 'lang in (en,de,fr)', n1, n2, n1 - n2,
        |    CASE WHEN n1 > 0
        |      THEN round_even(100.0 * (n1 - n2) / n1, 1) END
        |  FROM w
        |  UNION ALL
        |  SELECT 3, 'exact-dedup', n2, n3, n2 - n3,
        |    CASE WHEN n2 > 0
        |      THEN round_even(100.0 * (n2 - n3) / n2, 1) END
        |  FROM w)
        |ORDER BY stage_idx""".stripMargin),

    // Position-based (U-shape) multi-touch attribution: every purchase
    // distributes exactly 1,000,000 micro-credits over its 3-day
    // lookback touches — 40/40 to first/last, the middle 20% split by
    // integer division with the remainder pinned to the LAST touch, so
    // credits are EXACT integers that always sum to 1e6 (no float
    // shares to drift between engines). Purchases with no in-window
    // touch credit "none" in full (anti-join leg). The touch↔purchase
    // pairing is a per-user range join — per-user-bounded fan-out, the
    // funnel_ordered precedent; credit-weighted value accumulates in
    // DECIMAL(38,0) ≙ HUGEINT.
    QueryDef("attribution_ushape", (s, dir) => {
      val lookbackUs = 259200000000L // 3 days in µs
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"))
      val tou = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_uid"), col("event_id").as("t_eid"),
          col("ts_us").as("t_ts"), col("event_type").as("ch"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_eid"),
          col("ts_us").as("p_ts"), col("v"))
      val windowCond = col("t_uid") === col("user_id") &&
        (col("t_ts") < col("p_ts") ||
          (col("t_ts") === col("p_ts") && col("t_eid") < col("p_eid"))) &&
        col("t_ts") >= col("p_ts") - lit(lookbackUs)
      val wk = Window.partitionBy("user_id", "p_eid")
      val m = pur.join(tou, windowCond)
        .select(col("user_id"), col("p_eid"), col("v"), col("ch"),
          row_number().over(wk.orderBy(col("t_ts"), col("t_eid")))
            .as("rn"),
          count(lit(1)).over(wk).as("k"))
      val credit = when(col("k") === 1, lit(1000000L))
        .when(col("k") === 2, lit(500000L))
        .otherwise(
          when(col("rn") === 1, lit(400000L))
            .when(col("rn") === col("k"),
              lit(400000L) + expr("200000 % (k - 2)"))
            .otherwise(expr("200000 div (k - 2)")))
      val touched = m.select(col("ch").as("channel"),
        credit.as("cr"), col("v"))
      val untouched = pur.join(tou, windowCond, "left_anti")
        .select(lit("none").as("channel"), lit(1000000L).as("cr"),
          col("v"))
      touched.unionByName(untouched)
        .groupBy("channel").agg(
          count(lit(1)).as("touches"),
          sum("cr").as("credit_micros"),
          sum(col("v").cast(D38) * col("cr")).as("wv"))
        .select(col("channel"), col("touches"), col("credit_micros"),
          bround(col("credit_micros").cast("double") / 1e6, 6)
            .as("credited_purchases"),
          bround(col("wv").cast("double") / 1e12, 6).as("credited_value"))
        .orderBy("channel")
    },
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
        |  FROM events),
        |tou AS (SELECT user_id AS t_uid, event_id AS t_eid,
        |    ts_us AS t_ts, event_type AS ch
        |  FROM ev WHERE event_type IN ('click', 'view')),
        |pur AS (SELECT user_id, event_id AS p_eid, ts_us AS p_ts, v
        |  FROM ev WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, p.p_eid, p.v, t.ch,
        |    row_number() OVER (PARTITION BY p.user_id, p.p_eid
        |      ORDER BY t.t_ts, t.t_eid) AS rn,
        |    count(*) OVER (PARTITION BY p.user_id, p.p_eid) AS k
        |  FROM pur p JOIN tou t ON t.t_uid = p.user_id
        |    AND (t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_eid < p.p_eid))
        |    AND t.t_ts >= p.p_ts - 259200000000),
        |touched AS (SELECT ch AS channel,
        |    CASE WHEN k = 1 THEN 1000000
        |      WHEN k = 2 THEN 500000
        |      WHEN rn = 1 THEN 400000
        |      WHEN rn = k THEN 400000 + 200000 % (k - 2)
        |      ELSE 200000 // (k - 2) END AS cr, v
        |  FROM m),
        |untouched AS (SELECT 'none' AS channel, 1000000 AS cr, p.v
        |  FROM pur p WHERE NOT EXISTS (SELECT 1 FROM tou t
        |    WHERE t.t_uid = p.user_id
        |      AND (t.t_ts < p.p_ts
        |        OR (t.t_ts = p.p_ts AND t.t_eid < p.p_eid))
        |      AND t.t_ts >= p.p_ts - 259200000000)),
        |u AS (SELECT * FROM touched UNION ALL SELECT * FROM untouched)
        |SELECT channel, CAST(count(*) AS BIGINT) AS touches,
        |  CAST(sum(cr) AS BIGINT) AS credit_micros,
        |  round_even(CAST(sum(cr) AS DOUBLE) / 1000000.0, 6)
        |    AS credited_purchases,
        |  round_even(CAST(sum(CAST(v AS HUGEINT) * cr) AS DOUBLE)
        |    / 1000000000000.0, 6) AS credited_value
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin),

    // Time-decay multi-touch attribution — the fourth member of the
    // attribution family (last-touch / U-shape / Shapley): each touch's
    // raw weight HALVES per day of age (4/2/1 over the 3-day lookback —
    // exact integers, no libm pow), each purchase distributes exactly
    // 1,000,000 micro-credits by integer division with the remainder
    // pinned to the LAST touch (the ushape discipline: credits always
    // sum to 1e6). Same per-user-bounded range join, same anti-join
    // "none" leg, same DECIMAL(38,0) value accumulation.
    QueryDef("attribution_decay", (s, dir) => {
      val lookbackUs = 259200000000L // 3 days in µs
      val dayUs = 86400000000L
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"))
      val tou = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_uid"), col("event_id").as("t_eid"),
          col("ts_us").as("t_ts"), col("event_type").as("ch"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_eid"),
          col("ts_us").as("p_ts"), col("v"))
      val windowCond = col("t_uid") === col("user_id") &&
        (col("t_ts") < col("p_ts") ||
          (col("t_ts") === col("p_ts") && col("t_eid") < col("p_eid"))) &&
        col("t_ts") >= col("p_ts") - lit(lookbackUs)
      val wk = Window.partitionBy("user_id", "p_eid")
      val m = pur.join(tou, windowCond)
        .select(col("user_id"), col("p_eid"), col("v"), col("ch"),
          expr(s"CAST(4 DIV shiftleft(1, CAST(least((p_ts - t_ts) DIV $dayUs, 2) AS INT)) AS BIGINT)")
            .as("r"),
          row_number().over(wk.orderBy(col("t_ts"), col("t_eid")))
            .as("rn"),
          count(lit(1)).over(wk).as("k"))
        .withColumn("rt", sum("r").over(wk))
        .withColumn("fl", expr("CAST((1000000 * r) DIV rt AS BIGINT)"))
        .withColumn("fs", sum("fl").over(wk))
      val touched = m.select(col("ch").as("channel"),
        (col("fl") + when(col("rn") === col("k"),
          lit(1000000L) - col("fs")).otherwise(0L)).as("cr"),
        col("v"))
      val untouched = pur.join(tou, windowCond, "left_anti")
        .select(lit("none").as("channel"), lit(1000000L).as("cr"),
          col("v"))
      touched.unionByName(untouched)
        .groupBy("channel").agg(
          count(lit(1)).as("touches"),
          sum("cr").as("credit_micros"),
          sum(col("v").cast(D38) * col("cr")).as("wv"))
        .select(col("channel"), col("touches"), col("credit_micros"),
          bround(col("credit_micros").cast("double") / 1e6, 6)
            .as("credited_purchases"),
          bround(col("wv").cast("double") / 1e12, 6).as("credited_value"))
        .orderBy("channel")
    },
      // same halving weights (4 >> age-days), same floor+remainder
      // integer split; the remainder window is a second cumulative over
      // the identical partition
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
        |  FROM events),
        |tou AS (SELECT user_id AS t_uid, event_id AS t_eid,
        |    ts_us AS t_ts, event_type AS ch
        |  FROM ev WHERE event_type IN ('click', 'view')),
        |pur AS (SELECT user_id, event_id AS p_eid, ts_us AS p_ts, v
        |  FROM ev WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, p.p_eid, p.v, t.ch,
        |    CAST(4 // (1 << CAST(least((p.p_ts - t.t_ts) // 86400000000,
        |      2) AS INT)) AS BIGINT) AS r,
        |    row_number() OVER (PARTITION BY p.user_id, p.p_eid
        |      ORDER BY t.t_ts, t.t_eid) AS rn,
        |    count(*) OVER (PARTITION BY p.user_id, p.p_eid) AS k
        |  FROM pur p JOIN tou t ON t.t_uid = p.user_id
        |    AND (t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_eid < p.p_eid))
        |    AND t.t_ts >= p.p_ts - 259200000000),
        |m2 AS (SELECT *,
        |    CAST(sum(r) OVER (PARTITION BY user_id, p_eid) AS BIGINT)
        |      AS rt
        |  FROM m),
        |m3 AS (SELECT *, CAST((1000000 * r) // rt AS BIGINT) AS fl,
        |    CAST(sum((1000000 * r) // rt)
        |      OVER (PARTITION BY user_id, p_eid) AS BIGINT) AS fs
        |  FROM m2),
        |touched AS (SELECT ch AS channel,
        |    fl + CASE WHEN rn = k THEN 1000000 - fs ELSE 0 END AS cr, v
        |  FROM m3),
        |untouched AS (SELECT 'none' AS channel, 1000000 AS cr, p.v
        |  FROM pur p WHERE NOT EXISTS (SELECT 1 FROM tou t
        |    WHERE t.t_uid = p.user_id
        |      AND (t.t_ts < p.p_ts
        |        OR (t.t_ts = p.p_ts AND t.t_eid < p.p_eid))
        |      AND t.t_ts >= p.p_ts - 259200000000)),
        |u AS (SELECT * FROM touched UNION ALL SELECT * FROM untouched)
        |SELECT channel, CAST(count(*) AS BIGINT) AS touches,
        |  CAST(sum(cr) AS BIGINT) AS credit_micros,
        |  round_even(CAST(sum(cr) AS DOUBLE) / 1000000.0, 6)
        |    AS credited_purchases,
        |  round_even(CAST(sum(CAST(v AS HUGEINT) * cr) AS DOUBLE)
        |    / 1000000000000.0, 6) AS credited_value
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin),

    // Structured Streaming, driver-gated: the SAME tumbling-day
    // aggregation the streaming module ships ([[FunnelStream
    // .dailyEventCounts]]) actually RUNS as a stream here —
    // readStream over the events parquet, AvailableNow trigger,
    // complete-mode memory sink — and its final result must equal the
    // batch oracle's GROUP BY day. Stream/batch parity stops being a
    // claim in a spec and becomes a hash-checked gate. The stream's ts
    // type is the batch reader's ([[Tables.eventsStream]]).
    QueryDef("stream_daily_counts", (s, dir) => {
      val ev = Tables.eventsStream(s, dir)
      StreamRunner.run(s,
          graft.streaming.FunnelStream.dailyEventCounts(ev),
          Complete, "daily")
        .select(date_format(col("day_start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("cnt"))
        .orderBy("day", "event_type")
    },
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming QUANTILE sketch under the value oracle: the 512-bin
    // grid state (the engine's mergeable value sketch) accumulated as
    // a complete-mode streaming aggregate, then read out by the SAME
    // shared readout the batch sketch_quantiles uses — stream/batch
    // parity of the sketch STATE itself, gated by the identical
    // oracle. Streaming state is |types|·512 counters, the fixed
    // memory a 100 TB stream pays for percentiles.
    QueryDef("stream_quantile", (s, dir) => {
      val ev = Tables.eventsStream(s, dir)
        .select(col("event_type"), Signals.gridBin(col("value")))
      // the file-sink read-back is a plain parquet relation, so the
      // readout's self-join (cum window ⋈ totals) needs no
      // attribute-dedup workaround (the old memory-sink MemoryPlan did)
      val grid = StreamRunner.run(s,
        ev.groupBy("event_type", "bin").agg(count(lit(1)).as("c")),
        Complete, "quant")
      Signals.gridQuantileReadout(s, grid)
    },
      // stream/batch parity IS the claim: the batch sketch's oracle
      // serves the streaming grid unchanged
      QueryDef.oracle(Signals.defs, "sketch_quantiles")),

    // Streaming HLL — approximate distinct users per type with
    // CONSTANT state on an unbounded stream (64 registers per group vs
    // dropDuplicates' per-key state): the engine's HyperLogLogAgg runs
    // as the streaming aggregate, registers max-merge across
    // micro-batches exactly as across partitions, and the materialized
    // sketch reads out register-identical to the batch hll_distinct —
    // whose oracle serves unchanged. Exact witnesses come from one
    // batch pass beside the stream.
    QueryDef("stream_hll", (s, dir) => {
      val hll = udaf(new graft.functions.HyperLogLogAgg(),
        org.apache.spark.sql.Encoders.STRING)
      val ev = Tables.eventsStream(s, dir)
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
      val regs = StreamRunner.run(s,
        ev.groupBy("event_type").agg(hll(col("uid")).as("regs")),
        Complete, "hll")
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      regs.join(exact, Seq("event_type"))
        .select(col("event_type"),
          graft.functions.HyperLogLogAgg.estimate(col("regs"))
            .as("est_distinct"),
          col("true_distinct"),
          graft.functions.HyperLogLogAgg.regWeight(col("regs"))
            .as("reg_weight"),
          graft.functions.HyperLogLogAgg.zeroRegs(col("regs"))
            .as("zero_regs"))
        .orderBy("event_type")
    },
      // register-identical to the batch sketch → the batch oracle serves
      QueryDef.oracle(Relational.defs, "hll_distinct")),

    // Streaming KMV — the fifth streaming sketch, extending the
    // merge-algebra square to a LATTICE op: HLL merges by max, CMS/grid
    // by sum, Bloom by OR, and the k-min-values list by
    // sorted-distinct-take-k — each identical across micro-batches and
    // partitions. KMV's edge over all of them: the accumulated state is
    // fully DETERMINISTIC ("the k smallest distinct fingerprints seen"),
    // so the streamed sketch is not just register-identical to its
    // batch twin — the ORACLE rebuilds the exact list relationally and
    // gates θ itself. Constant |types|·k·8 B state on an unbounded
    // stream, and the sketch that comes out supports set algebra with
    // any batch-built sketch (kmv_theta_intersect).
    QueryDef("stream_kmv", (s, dir) => {
      val kmv = udaf(new graft.functions.KmvSketchAgg(64),
        org.apache.spark.sql.Encoders.STRING)
      val ev = Tables.eventsStream(s, dir)
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
      val sk = StreamRunner.run(s,
        ev.groupBy("event_type").agg(kmv(col("uid")).as("sk")),
        Complete, "kmv")
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      sk.join(exact, Seq("event_type"))
        .select(col("event_type"),
          size(col("sk")).cast("long").as("u_size"),
          element_at(col("sk"), size(col("sk"))).as("theta_fp"),
          bround(when(size(col("sk")) < 64, size(col("sk")).cast("double"))
            .otherwise(lit(63.0) * pow(lit(2.0), lit(60)) /
              element_at(col("sk"), size(col("sk"))).cast("double")), 4)
            .as("est_distinct"),
          col("true_distinct"))
        .orderBy("event_type")
    },
      // the streamed k-min list is deterministic, so θ and u_size gate
      // the sketch STATE itself, not just a readout
      """WITH fp AS (SELECT DISTINCT event_type,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM fp),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS u_size,
        |    max(h) AS theta_fp
        |  FROM rk WHERE rn <= 64 GROUP BY 1),
        |tru AS (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
        |  FROM events GROUP BY 1)
        |SELECT s.event_type, s.u_size, s.theta_fp,
        |  round(CASE WHEN s.u_size < 64 THEN CAST(s.u_size AS DOUBLE)
        |    ELSE 63.0 * power(2.0, 60) / CAST(s.theta_fp AS DOUBLE) END, 4)
        |    AS est_distinct,
        |  t.true_distinct
        |FROM st s JOIN tru t USING (event_type)
        |ORDER BY s.event_type""".stripMargin),

    // Streaming EXACT distinct via OR-merged bitmap words — the
    // precise-count partner of stream_hll on the stream (the same
    // pairing bitmap_distinct/hll_distinct make in batch): per
    // (type, word) 62-bit masks bit_or across micro-batches, state is
    // |types|·|keyspace/62| words (exactness costs keyspace-sized
    // state where HLL pays 64 registers — both gated, that trade IS
    // the readout), and popcounts must land exactly on the batch
    // countDistinct.
    QueryDef("stream_bitmap", (s, dir) => {
      val ev = Tables.eventsStream(s, dir).select(col("event_type"),
        expr("CAST(user_id DIV 62 AS BIGINT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
          .as("m"))
      val counts = StreamRunner.run(s,
          ev.groupBy("event_type", "w").agg(bit_or(col("m")).as("bm")),
          Complete, "bitmap")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_words"),
          sum(bit_count(col("bm"))).cast("long").as("distinct_bitmap"))
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("distinct_exact"))
      counts.join(exact, Seq("event_type"))
        .orderBy("event_type")
    },
      """WITH w AS (SELECT event_type,
        |    CAST(user_id // 62 AS BIGINT) AS w,
        |    CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT) AS m
        |  FROM events),
        |bm AS (SELECT event_type, w, bit_or(m) AS bm
        |  FROM w GROUP BY 1, 2),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(bit_count(bm)) AS BIGINT) AS distinct_bitmap
        |  FROM bm GROUP BY 1),
        |e AS (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_exact
        |  FROM events GROUP BY 1)
        |SELECT c.event_type, c.n_words, c.distinct_bitmap,
        |  e.distinct_exact
        |FROM c JOIN e USING (event_type)
        |ORDER BY c.event_type""".stripMargin),

    // Streaming Bloom — the fourth streaming sketch, closing the
    // merge-algebra square: HLL registers merge by MAX, grid/CMS
    // counters by SUM, and the Bloom bit array by OR — each the same
    // operation across micro-batches as across partitions, so every
    // streaming sketch is bit-identical to its batch twin. Here the
    // purchase-audience membership filter accumulates on the stream
    // (constant 256 Kib state), then a fixed 2000-key probe grid is
    // tested against it: the md5 filter is deterministic, so pass,
    // present, and even the false-positive count are hash-gated.
    QueryDef("stream_bloom", (s, dir) => {
      val nBits = 262144
      val k = 7
      val bloomAgg = udaf(new graft.functions.BloomFilterAgg(nBits, k),
        org.apache.spark.sql.Encoders.STRING)
      val ev = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("uid"))
      val bits = StreamRunner.run(s,
        ev.groupBy().agg(bloomAgg(col("uid")).as("bits")),
        Complete, "bloom")
      val present = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
        .withColumn("present", lit(1))
      s.range(2000).select(col("id").as("user_id"))
        .crossJoin(broadcast(bits))
        .withColumn("pass", graft.functions.BloomFilterAgg.mayContain(
          col("bits"), col("user_id").cast("string"), nBits, k))
        .join(broadcast(present), Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("present").isNotNull, 1L).otherwise(0L))
            .as("n_present"),
          sum(when(col("pass") && col("present").isNull, 1L)
            .otherwise(0L)).as("n_fp"))
        .select(col("n_probes"), col("n_pass"), col("n_present"),
          col("n_fp"),
          when(col("n_probes") - col("n_present") > 0,
            bround(col("n_fp").cast("double")
              / (col("n_probes") - col("n_present")).cast("double"), 6))
            .as("fpr"))
    },
      // the stream-built filter is bit-identical to a batch build, so
      // the oracle rebuilds the k=7 positions and replays all probes
      """WITH bl AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS kk
        |  FROM events WHERE event_type = 'purchase'),
        |blh AS (SELECT
        |    CAST('0x' || substr(md5(kk), 1, 7) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(kk), 8, 7) AS BIGINT) | 1 AS h2
        |  FROM bl),
        |blpos AS (SELECT DISTINCT (h1 + t.i * h2) % 262144 AS pos
        |  FROM blh, range(0, 7) t(i)),
        |keys AS (SELECT t.u AS user_id FROM range(0, 2000) t(u)),
        |kh AS (SELECT user_id,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)
        |      AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 8, 7)
        |      AS BIGINT) | 1 AS h2
        |  FROM keys),
        |kpos AS (SELECT k.user_id, (k.h1 + t.i * k.h2) % 262144 AS pos
        |  FROM kh k, range(0, 7) t(i)),
        |hit AS (SELECT p.user_id, count(b.pos) AS nhit
        |  FROM kpos p LEFT JOIN blpos b USING (pos)
        |  GROUP BY 1),
        |x AS (SELECT h.user_id, h.nhit = 7 AS pass,
        |    h.user_id IN (SELECT CAST(kk AS BIGINT) FROM bl) AS present
        |  FROM hit h)
        |SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass,
        |  CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_present,
        |  CAST(sum(CASE WHEN pass AND NOT present THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fp,
        |  CASE WHEN count(*) - sum(CASE WHEN present THEN 1 ELSE 0 END)
        |      > 0
        |    THEN CAST(round_even(
        |      CAST(sum(CASE WHEN pass AND NOT present THEN 1 ELSE 0 END)
        |        AS DOUBLE)
        |      / CAST(count(*) - sum(CASE WHEN present THEN 1 ELSE 0 END)
        |        AS DOUBLE), 6) AS DOUBLE) END AS fpr
        |FROM x""".stripMargin),

    // Streaming CMS — the third streaming sketch beside stream_hll
    // (distinct) and stream_quantile (percentiles): frequency
    // estimation with CONSTANT 4×64-counter state per stream. Counters
    // sum across micro-batches exactly as across partitions, so the
    // materialized sketch equals the batch one-shot and
    // cms_heavy_hitters' oracle serves unchanged; the probe and exact
    // witnesses come from one batch pass beside the stream.
    QueryDef("stream_cms", (s, dir) => {
      val depth = 4
      val width = 64
      val cmsU = udaf(new graft.functions.CountMinSketchAgg(depth, width),
        org.apache.spark.sql.Encoders.STRING)
      val ev = Tables.eventsStream(s, dir).select(col("event_type"))
      val sketch = StreamRunner.run(s,
        ev.groupBy().agg(cmsU(col("event_type")).as("sketch")),
        Complete, "cms")
      val (h1, h2) =
        graft.functions.CountMinSketchAgg.hashPairCols(col("event_type"))
      val est = (0 until depth).map { i =>
        element_at(col("sketch"),
          (lit(i * width) + pmod(h1 + lit(i.toLong) * h2,
            lit(width.toLong)) + 1).cast("int"))
      }.reduce(least(_, _))
      Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(sketch))
        .select(col("event_type"), est.as("est_cnt"), col("true_cnt"))
        .orderBy("event_type")
    },
      QueryDef.oracle(Relational.defs, "cms_heavy_hitters")),

    // streaming Misra–Gries top-k: the deterministic-guarantee member
    // of the streaming sketch square (exact bitmap / HLL / CMS / Bloom
    // / quantile / MG). Complete-mode single-group aggregate whose
    // state is the ≤capacity-entry counter map — the PODS-2012 merge
    // makes micro-batch partials associative, so the replayed stream
    // ends register-identical to the batch summary and reuses the
    // batch oracle (same exact-regime capacity: 16 ≥ ~5 event types).
    QueryDef("stream_topk", (s, dir) => {
      val mgU = udaf(new graft.functions.MisraGriesAgg(16),
        org.apache.spark.sql.Encoders.STRING)
      val ev = Tables.eventsStream(s, dir).select(col("event_type"))
      val summary = StreamRunner.run(s,
        ev.groupBy().agg(mgU(col("event_type")).as("summary")),
        Complete, "topk")
      Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(summary))
        .select(col("event_type"),
          element_at(col("summary"), col("event_type")).as("est_cnt"),
          col("true_cnt"),
          size(col("summary")).as("summary_size"))
        .orderBy("event_type")
    },
      QueryDef.oracle(Relational.defs, "misra_gries_topk")),

    // Streaming stateful DEDUP under the value oracle: dropDuplicates
    // state keeps first-arrival per (user_id, event_type) across
    // micro-batches, and the downstream count per event_type must equal
    // batch count(DISTINCT user_id). The unbounded variant is exact for
    // any batching the AvailableNow trigger picks (state = one entry
    // per distinct key — the same cost batch distinct pays); the
    // production watermark-bounded eviction is
    // [[graft.streaming.FunnelStream.dedupedEvents]], pinned in
    // FunnelStreamSpec (its cross-batch replay-drop test).
    QueryDef("stream_dedup_counts", (s, dir) => {
      val ev = Tables.eventsStream(s, dir)
      StreamRunner.run(s,
          ev.select("user_id", "event_type")
            .dropDuplicates("user_id", "event_type")
            .groupBy("event_type")
            .agg(count(lit(1)).as("distinct_users")),
          Complete, "dedup")
        .orderBy("event_type")
    },
      // streaming first-per-key dedup ≡ batch count distinct
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Stream-STATIC broadcast enrichment under the value oracle
    // ([[graft.streaming.FunnelStream.enrichedDailyCounts]], previously
    // spec-only): each micro-batch joins the broadcast user dimension
    // map-side (no stream-side shuffle before the windowed aggregate —
    // the per-batch plan a 100 TB/day stream needs), and the settled
    // daily per-segment counts must equal the batch GROUP BY. The
    // segment dimension derives deterministically from user_id so the
    // oracle can rebuild it.
    QueryDef("stream_enriched_counts", (s, dir) => {
      val ev = Tables.eventsStream(s, dir)
      val dim = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("seg"), pmod(col("user_id"), lit(4))))
      StreamRunner.run(s,
          graft.streaming.FunnelStream
            .enrichedDailyCounts(ev.select("ts", "user_id"), dim),
          Complete, "enrich")
        .select(date_format(col("day_start"), "yyyy-MM-dd").as("day"),
          col("segment"), col("cnt"))
        .orderBy("day", "segment")
    },
      // stream-static broadcast enrichment ≡ batch join + daily GROUP BY
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  'seg' || CAST(user_id % 4 AS VARCHAR) AS segment,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // STREAM-STREAM watermarked inner join under the value oracle — the
    // last canonical Structured Streaming operator (the others: global
    // agg, stateful dedup, stream-static enrich, session windows are
    // already gated/spec'd). Two branches of the event stream — views
    // and purchases — join per user with an event-time range bound
    // (purchase within 7 days after the view). BOTH sides carry a
    // watermark and the join predicate carries the time constraint,
    // which is exactly what lets the engine evict join state: a view
    // older than watermark − 7 days can never match a future purchase,
    // so at 100 TB/day the state store holds a bounded window, not the
    // stream's history. Matches emit in APPEND mode (no settling); the
    // per-day rollup of the sink table runs as a batch query, so the
    // oracle is the plain batch self-join + GROUP BY. RocksDB-backed
    // state for this shape is pinned in FunnelStreamSpec.
    // DYNAMIC partition pruning, oracle-gated: the fact side is a
    // date=-partitioned parquet mirror of events (written once per
    // sf+JVM), the dim side is a day dimension whose filter is NOT a
    // partition predicate (days-since-epoch mod 7 < 2 — computable only
    // from the dim), so static PruneFileSourcePartitions can't help:
    // only runtime DPP (the broadcast join's build side re-used as a
    // partition filter) keeps the fact scan from listing all days. At
    // 100 TB the difference is reading 2/7ths of the table vs all of
    // it — THE mechanism behind star-schema date-dim filtering. The
    // DynamicPruningExpression in the fact scan is asserted in
    // PlanSpec; the values must match the plain join oracle.
    QueryDef("dpp_join", (s, dir) => {
      val p = Scratch.once(Scratch.dir(dir, "dpp")) { tmp =>
        Tables.events(s, dir)
          .select(to_date(col("ts")).as("day"), col("value"))
          .write.mode("overwrite").partitionBy("day").parquet(tmp)
      }
      val fact = s.read.parquet(p)
      val dim = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day")).distinct()
        .filter(pmod(datediff(col("day"), to_date(lit("2024-01-01"))),
          lit(7)) < 2)
      fact.join(dim, Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(bround(col("value") * lit(1000000.0)).cast("long"))
            .as("value_micros"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("value_micros"))
        .orderBy("day")
    },
      // the partitioned mirror holds exactly the events rows, so the
      // oracle is the plain filtered join over the source table
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |sel AS (SELECT day FROM d
        |  WHERE (day - DATE '2024-01-01') % 7 < 2),
        |f AS (SELECT CAST(ts AS DATE) AS day, value FROM events)
        |SELECT strftime(f.day, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS value_micros
        |FROM f JOIN sel USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // The flatMapGroupsWithState SESSIONIZER under the batch oracle —
    // the last spec-only streaming operator promoted to a hash-checked
    // gate. The stream replays a canonical copy of events in THREE
    // deterministic micro-batches (maxFilesPerTrigger=1 over files with
    // staggered modtimes): all real rows as ONE file — so the per-key
    // interval merge closes sessions with full knowledge, exactly like
    // batch — then two far-future sentinel rows for a dummy user. The
    // first sentinel advances the event-time watermark past every real
    // session's timeout; the second makes the engine RUN a batch under
    // that watermark, firing the timeout callback that flushes each
    // user's final open session. Output = every session the batch
    // `sessionize` query computes, byte-identical under the same
    // oracle; the sentinel user's own never-closed session is the only
    // state left behind, filtered by user_id ≥ 0.
    QueryDef("stream_sessionize", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      // one pass for the sentinel horizon AND the content fingerprint
      // that keys the fixture (count / max-ts / user-sum: a regenerated
      // events table at the same SF gets a fresh replay)
      val meta = ev.agg(max(unix_micros(col("ts"))), count(lit(1)),
        sum(col("user_id"))).collect()(0)
      val maxUs = meta.getLong(0)
      val fp = java.lang.Long.toHexString(meta.getLong(1)) + "_" +
        java.lang.Long.toHexString(maxUs) + "_" +
        java.lang.Long.toHexString(meta.getLong(2))
      val p = Scratch.once(Scratch.dir(dir, s"stream_sess_$fp")) { tp =>
        def dataFiles: Set[java.io.File] =
          Option(new java.io.File(tp).listFiles).map(_.toSet)
            .getOrElse(Set.empty)
            .filter(f => !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
        ev.coalesce(1).write.mode("overwrite").parquet(tp)
        val t0 = System.currentTimeMillis
        dataFiles.foreach(_.setLastModified(t0 - 60000))
        val yearUs = 365L * 86400 * 1000000
        def sentinel(us: Long, stamp: Long): Unit = {
          val before = dataFiles
          Seq((-1L, us)).toDF("user_id", "us")
            .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
            .coalesce(1).write.mode("append").parquet(tp)
          (dataFiles -- before).foreach(_.setLastModified(stamp))
        }
        sentinel(maxUs + yearUs, t0 - 40000)
        sentinel(maxUs + 2 * yearUs, t0 - 20000)
      }
      val src = Tables.stream(s, p, maxFilesPerTrigger = Some(1))
      val ds = src
        .select(col("user_id"), col("ts"), lit("e").as("event_type"))
        .as[graft.streaming.FunnelStream.UserEvent]
      val sessions = StreamRunner.run(s,
        graft.streaming.FunnelStream.userSessions(ds, 30, "1 hour").toDF(),
        Append, "sess")
      val w = Window.partitionBy("user_id").orderBy("session_start")
      sessions.filter(col("user_id") >= 0)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("sess_no"),
          col("events").as("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
        .orderBy("user_id", "sess_no")
    },
      // stream/batch sessionization parity IS the claim: the streaming
      // flatMapGroupsWithState result answers to the SAME oracle as the
      // batch window query
      QueryDef.oracle(Relational.defs, "sessionize")),

    // Watermark LATE-DATA semantics under the hash oracle — the
    // dropped-rows contract itself becomes the gate: the replay
    // (stream_sessionize's staggered-modtime fixture) feeds (1) every
    // real event, (2) a far-future sentinel that jumps the event-time
    // watermark past every real window, then (3) a DUPLICATE copy of
    // the user_id%10=0 events — now strictly below the watermark. The
    // append-mode tumbling-day aggregate must equal the BATCH daily
    // counts of the original events: if the engine failed to drop the
    // late batch, every 10th user's windows would double and the hash
    // would trip. The sentinel's own window never finalizes, so it
    // never reaches the sink. State = |days|·|types| windows, bounded
    // by the watermark — the 100 TB streaming-agg posture.
    QueryDef("stream_late_data", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
      val meta = ev.agg(max(unix_micros(col("ts"))), count(lit(1)),
        sum(col("user_id"))).collect()(0)
      val maxUs = meta.getLong(0)
      val fp = java.lang.Long.toHexString(meta.getLong(1)) + "_" +
        java.lang.Long.toHexString(maxUs) + "_" +
        java.lang.Long.toHexString(meta.getLong(2))
      val p = Scratch.once(Scratch.dir(dir, s"stream_late_$fp")) { tp =>
        def dataFiles: Set[java.io.File] =
          Option(new java.io.File(tp).listFiles).map(_.toSet)
            .getOrElse(Set.empty)
            .filter(f => !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
        ev.coalesce(1).write.mode("overwrite").parquet(tp)
        val t0 = System.currentTimeMillis
        dataFiles.foreach(_.setLastModified(t0 - 60000))
        val yearUs = 365L * 86400 * 1000000
        def appendBatch(df: DataFrame, stamp: Long): Unit = {
          val before = dataFiles
          df.coalesce(1).write.mode("append").parquet(tp)
          (dataFiles -- before).foreach(_.setLastModified(stamp))
        }
        // TWO sentinels, the stream_sessionize lesson: the late-row
        // filter of batch N uses the watermark committed one batch
        // behind, so the jump needs a spacer batch before the late
        // rows arrive for them to be filtered under it
        def sentinel(us: Long, stamp: Long): Unit =
          appendBatch(Seq((-1L, us)).toDF("user_id", "us")
            .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
              lit("view").as("event_type")), stamp)
        sentinel(maxUs + yearUs, t0 - 45000)
        sentinel(maxUs + 2 * yearUs, t0 - 30000)
        appendBatch(ev.filter(pmod(col("user_id"), lit(10)) === 0),
          t0 - 15000)
      }
      val src = Tables.stream(s, p, maxFilesPerTrigger = Some(1))
      val settled = StreamRunner.run(s,
        src.withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt")),
        Append, "late")
      // a finalized SENTINEL window (year-away) is fixture scaffolding,
      // not data — the readout keeps only real-horizon days
      settled
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("cnt"))
        .filter(col("day") <=
          date_format(timestamp_micros(lit(maxUs)), "yyyy-MM-dd"))
        .orderBy("day", "event_type")
    },
      // the duplicates the replay injects MUST have been dropped by the
      // watermark for this to match the plain batch daily counts
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Malformed-input accounting: a scratch CSV where every 13th line
    // carries a non-numeric token in a LONG column, read PERMISSIVE
    // with a corrupt-record column — the ingest-edge contract (bad rows
    // are QUARANTINED AND COUNTED, never silently dropped, and never
    // kill the job — the reference's degrade-to-empty philosophy,
    // report_engine.py:60-62, made row-granular). The oracle computes
    // the expected good/bad split in CLOSED FORM from the generation
    // rule (the synthetic_source trick) — it never parses the file, so
    // only correct quarantine semantics can match it.
    QueryDef("corrupt_records", (s, dir) => {
      val n = 10000
      val p = Scratch.once(Scratch.dir(dir, "corrupt")) { tmp =>
        val w = new java.io.PrintWriter(
          new java.io.File(tmp, "records.csv"), "UTF-8")
        try {
          (0 until n).foreach { i =>
            val v = if (i % 13 == 0) s"bad_$i" else (i.toLong * 7).toString
            w.println(s"$i,$v")
          }
        } finally w.close()
      }
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(sch)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(p)
        .agg(
          count(when(col("_bad").isNull, 1)).as("n_good"),
          count(when(col("_bad").isNotNull, 1)).as("n_corrupt"),
          sum(when(col("_bad").isNull, col("v"))).as("good_sum"),
          // corrupt rows keep their parseable columns (id) — the
          // quarantine preserves what it can
          sum(when(col("_bad").isNotNull, col("id"))).as("corrupt_id_sum"))
    },
      // closed form from the generation rule — the oracle never parses
      // the corrupt file
      """WITH g AS (SELECT i FROM range(0, 10000) t(i))
        |SELECT
        |  CAST(sum(CASE WHEN i % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_good,
        |  CAST(sum(CASE WHEN i % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(CASE WHEN i % 13 <> 0 THEN i * 7 END) AS BIGINT)
        |    AS good_sum,
        |  CAST(sum(CASE WHEN i % 13 = 0 THEN i END) AS BIGINT)
        |    AS corrupt_id_sum
        |FROM g""".stripMargin),

    // Empty-input aggregate semantics — the edge every engine must
    // agree on before any of the 200+ aggregates above can be trusted
    // on a filtered-to-nothing slice: a GLOBAL aggregate over zero rows
    // returns ONE row (count 0, sum/avg/min NULL), a GROUPED aggregate
    // returns ZERO rows (witnessed by a count over it).
    QueryDef("empty_relations", (s, dir) => {
      val e = Tables.events(s, dir).filter(col("event_type") === "nope")
      val global = e.agg(
        count(lit(1)).as("n"),
        sum("value").as("s"),
        avg("value").as("a"),
        min("user_id").as("mn"))
      val grouped = e.groupBy("event_type")
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("grouped_rows"))
      global.crossJoin(grouped)
    },
      """WITH e AS (SELECT * FROM events WHERE event_type = 'nope'),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(value) AS DOUBLE) AS s, avg(value) AS a,
        |    min(user_id) AS mn FROM e),
        |gr AS (SELECT CAST(count(*) AS BIGINT) AS grouped_rows FROM (
        |  SELECT event_type, count(*) AS c FROM e GROUP BY 1))
        |SELECT g.n, g.s, g.a, g.mn, gr.grouped_rows FROM g, gr""".stripMargin),

    // Multi-format federation under one checksum: the SAME canonical
    // rows written once as parquet, ORC, and headered CSV, read back
    // through each format's own source, unioned, and fingerprinted.
    // The sum-of-60-bit-fingerprints checksum is order- and
    // partition-independent, so "all three readers agree" compresses
    // to "the union's checksum is exactly 3× the logical table's" —
    // which is what the DuckDB oracle computes from the events table
    // alone, never seeing our files. Floats are quantized to integer
    // micros BEFORE the write so the CSV text round-trip is exact by
    // construction, the same reason a 100 TB interchange layer never
    // ships raw doubles through text.
    QueryDef("federated_union", (s, dir) => {
      val canon = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          bround(col("value") * lit(1000000.0)).cast("long").as("vm"))
      val base = Scratch.once(Scratch.dir(dir, "fed")) { tmp =>
        canon.write.mode("overwrite").parquet(s"$tmp/p")
        canon.write.mode("overwrite").orc(s"$tmp/o")
        canon.write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
      }
      val sch = canon.schema
      val all = s.read.parquet(s"$base/p")
        .unionByName(s.read.orc(s"$base/o"))
        .unionByName(s.read.schema(sch).option("header", "true")
          .csv(s"$base/c"))
      // coalesce, not concat_ws's null-skip: DuckDB mirrors '' exactly
      all.select(graft.llm.Dedup.fingerprint60(concat_ws("|",
          col("event_id").cast("string"), col("user_id").cast("string"),
          col("event_type"),
          coalesce(col("vm").cast("string"), lit(""))))
          .cast(D38).as("fp"),
          col("event_id"), col("vm"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_ids"),
          sum("vm").as("vm_sum"),
          sum("fp").cast(D38).cast("string").as("checksum"))
    },
      // the oracle never reads our files: if all three format readers
      // round-trip, every aggregate is exactly 3x the logical table's
      """WITH c AS (SELECT event_id, user_id, event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS vm
        |  FROM events),
        |f AS (SELECT event_id, vm, CAST('0x' || substr(md5(
        |      CAST(event_id AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR) || '|' ||
        |      event_type || '|' ||
        |      coalesce(CAST(vm AS VARCHAR), '')), 1, 15) AS BIGINT) AS fp
        |  FROM c)
        |SELECT CAST(3 * count(*) AS BIGINT) AS n_rows,
        |  count(DISTINCT event_id) AS n_ids,
        |  CAST(3 * sum(vm) AS BIGINT) AS vm_sum,
        |  CAST(CAST(3 * sum(CAST(fp AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM f""".stripMargin),

    // The mapGroupsWithState per-user funnel tracker under a value
    // oracle: the AvailableNow file source delivers the whole fixture
    // as ONE micro-batch (no read limit is set), so each user emits
    // exactly one state update — their final (events, purchases,
    // converted) position — and the bounded histogram of those
    // positions must equal the batch GROUP BY. The KV state itself is
    // per-user and partition-parallel; the cross-batch accumulation
    // semantics are pinned separately in FunnelStreamSpec (this gate
    // pins the arithmetic against DuckDB).
    QueryDef("stream_user_funnel", (s, dir) => {
      import s.implicits._
      val ds = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.FunnelStream.UserEvent]
      StreamRunner.run(s,
          graft.streaming.FunnelStream.userFunnelState(ds).toDF(),
          Update("user_id"), "ufun")
        .groupBy("events", "purchases", "converted")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("events", "purchases", "converted")
    },
      // one update per user (single-batch replay) ≡ the batch per-user
      // rollup, histogrammed to stay bounded
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS purchases
        |  FROM events GROUP BY 1)
        |SELECT events, purchases, purchases > 0 AS converted,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1, 2, 3
        |ORDER BY events, purchases, converted""".stripMargin),

    QueryDef("stream_stream_join", (s, dir) =>
      streamStreamJoinDaily(s, dir).orderBy("p_day"),
      """SELECT strftime(CAST(p.ts AS DATE), '%Y-%m-%d') AS p_day,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  count(DISTINCT p.user_id) AS n_users
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Spark 4's STATE STORE READER — the ops surface a 100 TB/day
    // streaming deployment lives on (state audits, skew diagnosis,
    // migration dry-runs): run the per-type complete-mode aggregate
    // with an explicit checkpoint, then read the aggregation operator's
    // STATE back as a DataFrame (`spark.read.format("statestore")`)
    // and emit the answer FROM THE STATE, never from the sink. The
    // oracle is the plain batch GROUP BY — so the gate proves the
    // persisted state holds exactly the aggregate's (count, sum)
    // buffer per key. Fresh checkpoint per run keeps bench passes
    // identical; the state read is partition-parallel (one
    // state file per shuffle partition, `partition_id` exposed).
    QueryDef("stream_state_read", (s, dir) => {
      val counts = Tables.eventsStream(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(bround(col("value") * lit(1000000.0)).cast("long"))
            .as("value_micros"))
      // sink rows are deliberately DISCARDED (noop): the gate reads the
      // answer from the persisted STATE, never from the sink
      StreamRunner.run(s, counts, State, "ssread")
        .select(col("key.event_type").as("event_type"),
          col("value.count").as("cnt"),
          col("value.sum").as("value_micros"))
        .orderBy("event_type")
    },
      // the state store must hold exactly the batch aggregate — the
      // oracle never sees a stream or a checkpoint
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS value_micros
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
