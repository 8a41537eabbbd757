package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.io.{Scratch, Tables}
import graft.io.Tables.{read => t}
import graft.llm.{Dedup, TextAnalysis}

/** Round-7 analytics batch: behavioral/time-series operators (cohorts,
  * transitions, time-range frames), deterministic second-moment
  * statistics, value-window functions, ratio-to-report, median/mode, a
  * sketch-accuracy gate, bipartite graph degrees, and two
  * training-pipeline ops (stride chunking, n-gram decontamination).
  *
  * Same determinism contract as [[Relational]]: DECIMAL for money sums,
  * fixed IEEE expression chains mirrored verbatim in the oracle, total
  * ORDER BY everywhere, integer arithmetic wherever exactness matters.
  */
object Analytics {

  private def money(c: String) = col(c).cast(DecimalType(18, 2))

  /** Bit-interleaving (Morton/Z-order) of two 16-bit values as a single
    * SQL expression — generated once and shared verbatim with the DuckDB
    * oracle (the [[graft.llm.TextAnalysis.langIdCaseSql]] trick), so the
    * engine and the oracle compute the identical integer. BIGINT casts
    * keep every shift in 64-bit space.
    */
  private[graft] def interleave16Sql(xc: String, yc: String): String =
    (0 until 16).map { i =>
      s"(((CAST($xc AS BIGINT) >> $i) & 1) << ${2 * i}) | " +
        s"(((CAST($yc AS BIGINT) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** The 16-level Hilbert xy→d walk as chained integer CTEs — the
    * oracle-side replay of [[graft.functions.HilbertIndex]]'s loop,
    * generated level-by-level so both engines execute the identical
    * arithmetic: quadrant term `s²·(ry | 3−ry by rx)` (the
    * XOR-free spelling), then the reflect-and-transpose frame update.
    * Input CTE `h0` must provide (o_custkey, d0, x, y, hd).
    */
  private[graft] def hilbertOracleCtes: String =
    (0 until 16).map { i =>
      val s = 1 << (15 - i)
      val s2 = s.toLong * s
      s"""h${i + 1} AS (SELECT o_custkey, d0,
         |  hd + $s2 * (CASE WHEN (x & $s) <> 0
         |    THEN 3 - (CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END)
         |    ELSE (CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END) END) AS hd,
         |  CASE WHEN (y & $s) = 0 THEN
         |    (CASE WHEN (x & $s) <> 0 THEN 65535 - y ELSE y END)
         |    ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN
         |    (CASE WHEN (x & $s) <> 0 THEN 65535 - x ELSE x END)
         |    ELSE y END AS y
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")

  /** The canonical per-mille md5 bucket, shared with split/mixture
    * sampling ([[graft.llm.Dedup.hashBucket1000]]) under this query's
    * own salt.
    */
  private def bucket1000(salt: String, idCol: Column): Column =
    Dedup.hashBucket1000(idCol, salt)

  /** Strict-order funnel fold (see the `funnel_ordered` registration).
    *
    * The per-user `collect_list` is BOUNDED at 100 TB by construction
    * (round-7 verdict flagged the previous unbounded spelling):
    * only the four funnel-relevant event types enter the window/collect
    * at all, and a running `row_number` caps each user at their first
    * `maxSeq` relevant events (earliest by (ts, event_id) — the same
    * greedy first-touch order the fold walks, so for every user under
    * the cap the result is bit-identical to the uncapped fold, and a
    * pathological power-user key degrades to "staged on their first
    * maxSeq relevant events" instead of OOMing an executor). Users with
    * NO relevant events re-enter via the user-level left join and count
    * as stage 0 — user-sized hash ops, never a sort of the full stream;
    * the only sort anywhere is the window over the (small) relevant
    * slice.
    */
  private[graft] def funnelOrdered(s: SparkSession, dir: String,
      maxSeq: Int = 100000): DataFrame = {
    val winUs = 21600000000L // 6 h
    val zero = struct(lit(0).as("stage"), lit(0L).as("t"))
    val stage = aggregate(col("seq"), zero, (acc, e) => {
      val st = acc.getField("stage")
      val t = acc.getField("t")
      val ty = e.getField("event_type")
      val ts = e.getField("ts_us")
      // STRICTLY later (ts > t), mirroring the oracle's `>` — after
      // the ns→µs truncation two distinct events can share a µs, and
      // `ts - t <= winUs` alone would advance where the oracle doesn't
      val adv = (st === 0 && ty === "signup") ||
        (st === 1 && ty === "view" && ts > t && ts - t <= winUs) ||
        (st === 2 && ty === "click" && ts > t && ts - t <= winUs) ||
        (st === 3 && ty === "purchase" && ts > t && ts - t <= winUs)
      when(adv, struct((st + 1).as("stage"), ts.as("t"))).otherwise(acc)
    }, _.getField("stage"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val staged = ev
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
      .withColumn("__rn", row_number().over(byTime))
      .filter(col("__rn") <= maxSeq)
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type"))))
        .as("seq"))
      .select(col("user_id"), stage.as("stage"))
    ev.select("user_id").distinct()
      .join(staged, Seq("user_id"), "left")
      .select(coalesce(col("stage"), lit(0)).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("users"))
      .orderBy("stage")
  }

  val defs: Seq[QueryDef] = Seq(
    // weekly cohort retention: each user joins the cohort of their first
    // active week; cell (cohort, age) counts users still active `age`
    // weeks later. Week index is INTEGER day-arithmetic (div 7), never a
    // date_trunc whose week-start convention could differ across
    // engines. The per-user first-week aggregate is users-sized →
    // broadcast back onto the event stream; the fact table shuffles once
    // for the final (cohort, age) rollup.
    QueryDef("cohort_retention", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("datediff(to_date(ts), date'2024-01-01') div 7").as("wk"))
      val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ev.join(broadcast(firstWk), "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(countDistinct("user_id").as("users"))
        .orderBy("cohort_wk", "age_wk")
    },
      """WITH ev AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT f.cohort_wk, ev.wk - f.cohort_wk AS age_wk,
        |  count(DISTINCT ev.user_id) AS users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Gaps-and-islands: consecutive-day activity streaks per user via
    // the classic "day minus dense row_number is constant within an
    // island" trick — one window keyed by user (partition-parallel,
    // no global sort), then two bounded rollups to the streak-length
    // histogram. The engagement-duration metric cohort_retention's
    // weekly grid can't see.
    QueryDef("activity_streaks", (s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val streaks = ud
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      streaks.groupBy("len")
        .agg(count(lit(1)).as("n_streaks"),
          countDistinct("user_id").as("n_users"))
        .orderBy("len")
    },
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |g AS (SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INT) AS grp
        |  FROM ud),
        |st AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM g GROUP BY 1, 2)
        |SELECT len, CAST(count(*) AS BIGINT) AS n_streaks,
        |  count(DISTINCT user_id) AS n_users
        |FROM st GROUP BY 1 ORDER BY len""".stripMargin),

    // The DISTRIBUTION window family (percent_rank / cume_dist / ntile)
    // over each event type's value ranking — the remaining ANSI window
    // functions the rank/frame queries don't touch. The order key is
    // (value, event_id): UNIQUE, because ntile splits ties by row
    // position, so a value-only ordering would let the two engines
    // assign straddling tied rows to different tiles.
    //
    // Plan shape (round-12 rewrite, round-13 fusion): the naive
    // spelling — percent_rank()/ntile() OVER (PARTITION BY event_type
    // ORDER BY value, event_id) — hash-partitions on event_type only,
    // so ONE task sorts an entire type's rows: the classic
    // single-partition-sort scale killer for a ~5-value partition key.
    // Round 12 decomposed rn into a bucketed cumulative + a per-value
    // tie window + a join back to the rows (correct, but 3 row-scale
    // shuffles — the one bench regression of that round). Round 13
    // observes the OUTPUT is a (type, tile) aggregate under an order
    // key where value is non-decreasing in rn, so everything collapses
    // to the (type, value) GRID — no row ever needs its own rank:
    //   tile boundaries are closed forms of nn alone (ANSI ntile:
    //     q = nn div 4, r = nn mod 4; tile j holds rn in
    //     [start_j, end_j], start_j = (j-1)q + min(j-1, r) + 1),
    //   per-tile n / pr_lo / pr_hi / cd_hi are closed forms of
    //     (start_j, end_j, nn) — the same integer-ratio IEEE divisions
    //     the window functions compute, hence bit-identical,
    //   lo / hi = min/max value over tie groups whose rn interval
    //     [smaller+1, smaller+t] intersects [start_j, end_j]
    //     (values are sorted by rn, so the overlap test is exact).
    // One row-scale shuffle total (ev → grid, map-side combined); the
    // bucketed two-level cumulative (coarse bucket floor(value/1024) →
    // per-type bucket window over ~#buckets rows; within-bucket value
    // window keyed by (type, bucket)) and the 4-way tile explode all
    // run at grid scale. Ranks are exact either way, so the oracle
    // keeps the window spelling — the closed forms ARE the gate.
    QueryDef("window_distribution", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      // bucket width 1.0: events.value is 2-decimal in [0, ~560], so a
      // unit bucket holds ≤ 100 distinct values — per-bucket grid sorts
      // stay bounded no matter the ROW count, and the bucket list is
      // range/width ≈ 560 per type
      // bucket list straight from raw (map-side-combined agg → one row
      // per (type, bucket)); boff (buckets strictly before) and nn
      // (grand total) share one bucket-list-scale Window node — same
      // partition spec, two frames, one sort — broadcast in one
      // exchange. The second raw scan is a 2-column projection with
      // full partial aggregation: cheaper at every scale than
      // materializing a possibly row-scale grid to executor storage.
      val bkW = Window.partitionBy("event_type").orderBy("bk")
      val bcum = ev.groupBy(col("event_type"), floor(col("value")).as("bk"))
        .agg(count(lit(1)).as("bt"))
        .withColumn("boff", coalesce(sum("bt").over(
          bkW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("nn", sum("bt").over(bkW.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .drop("bt")
      // grid branch: one shuffle to (type, bk, value), voff = values
      // strictly below in the same bucket — every sort partition is a
      // per-bucket slice of the DISTINCT-value grid
      val vW = Window.partitionBy("event_type", "bk").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tiled = ev.groupBy(col("event_type"),
          floor(col("value")).as("bk"), col("value"))
        .agg(count(lit(1)).as("t"))
        .withColumn("voff", coalesce(sum("t").over(vW), lit(0L)))
        .join(broadcast(bcum), Seq("event_type", "bk"))
        .withColumn("smaller", col("boff") + col("voff"))
        .withColumn("q", expr("nn DIV 4"))
        .withColumn("r", col("nn") % 4)
        .withColumn("tile", explode(array((1 to 4).map(lit): _*)))
        .withColumn("sz",
          when(col("tile") <= col("r"), col("q") + 1).otherwise(col("q")))
        .filter(col("sz") > 0)
        .withColumn("startj", (col("tile") - 1) * col("q") +
          least(col("tile") - 1, col("r")) + 1)
        .withColumn("endj", col("startj") + col("sz") - 1)
        .filter(col("smaller") + 1 <= col("endj") &&
          col("smaller") + col("t") >= col("startj"))
      tiled
        .groupBy("event_type", "tile")
        .agg(min("sz").cast("long").as("n"),
          bround(min("value"), 6).as("lo"),
          bround(max("value"), 6).as("hi"),
          bround(min(when(col("nn") > 1, (col("startj") - 1)
            .cast("double") / (col("nn") - 1).cast("double"))
            .otherwise(lit(0.0))), 6).as("pr_lo"),
          bround(max(when(col("nn") > 1, (col("endj") - 1)
            .cast("double") / (col("nn") - 1).cast("double"))
            .otherwise(lit(0.0))), 6).as("pr_hi"),
          bround(max(col("endj").cast("double") /
            col("nn").cast("double")), 6).as("cd_hi"))
        .orderBy("event_type", "tile")
    },
      // same unique (value, event_id) ordering: ANSI semantics agree on
      // percent_rank/cume_dist for ties, but ntile NEEDS the total order
      """WITH r AS (SELECT event_type, value,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    ntile(4) OVER w AS tile
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW w AS (PARTITION BY event_type
        |    ORDER BY value, event_id))
        |SELECT event_type, CAST(tile AS INT) AS tile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round_even(min(value), 6) AS lo,
        |  round_even(max(value), 6) AS hi,
        |  round_even(min(pr), 6) AS pr_lo,
        |  round_even(max(pr), 6) AS pr_hi,
        |  round_even(max(cd), 6) AS cd_hi
        |FROM r GROUP BY 1, 2 ORDER BY event_type, tile""".stripMargin),

    // Spark's NATIVE session window TVF (the operator behind streaming
    // sessionization) run in batch: groupBy(user, session_window(ts,
    // 30 min)) merges events into dynamic-gap sessions inside the
    // aggregate itself — no lag/running-sum window pass, one shuffle
    // on user_id. Boundary semantics are pinned EMPIRICALLY by
    // AnalyticsSpec: the merge test is next <= last + gap (an event at
    // exactly 30 min EXTENDS the session — window ends are inclusive
    // at the merge check, same break rule as the gaps-and-islands
    // sessionize), and the emitted window end is last_ts + gap, not
    // last_ts. The rollup output is session-grid-sized.
    QueryDef("session_window_agg", (s, dir) => {
      val sw = Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
      sw.select(col("user_id"), col("n_events"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"))
        .orderBy("user_id", "start_us")
    },
      // gaps-and-islands mirror of session_window's boundary rule:
      // break at diff > gap (boundary-inclusive merge, the rule
      // AnalyticsSpec pins empirically), end = last + gap
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN coalesce(
        |      epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000,
        |      true) THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS sess_no
        |  FROM g)
        |SELECT user_id, count(*) AS n_events,
        |  epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) + 1800000000 AS end_us
        |FROM s GROUP BY user_id, sess_no
        |ORDER BY user_id, start_us""".stripMargin),

    // Markov transition counts over each user's event sequence: ONE
    // window pass (lead) keyed by user, then a small (from, to) rollup —
    // the path-analysis primitive behind funnel mining. The window and
    // nothing else shuffles the raw stream.
    // Sequential-pattern support mining (the PrefixSpan first rounds):
    // how many users exhibit ⟨a,b⟩ — some a-event strictly before some
    // b-event — and ⟨a,b,c⟩, for every type combination. The existence
    // quantifiers collapse to per-(user,type) EXTREMA: ⟨a,b⟩ holds iff
    // first(a) < last(b) (uniform even for a=b, where it demands two
    // timestamps), and ⟨a,b,c⟩ needs m_ab = the earliest b AFTER
    // first(a), then m_ab < last(c) — so the whole miner is one
    // (user,type) aggregate plus one raw-event probe for the middle
    // element, all user-keyed shuffles, never a per-user sequence
    // materialization. Supports are exact user counts; every pattern
    // with support > 0 emits (≤ |types|³ rows), no top-k to flap.
    // event_transitions counts ADJACENT steps; this counts
    // subsequence EXISTENCE — the episode-mining complement.
    QueryDef("seq_patterns", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .localCheckpoint() // extrema agg + the middle-element probe
      val ft = ev.groupBy("user_id", "event_type")
        .agg(min("us").as("fmin"), max("us").as("fmax"))
        .localCheckpoint() // a-side, b-side, c-side all read it
      val pairs = ft.select(col("user_id"), col("event_type").as("ta"),
          col("fmin").as("fa"))
        .join(ft.select(col("user_id"), col("event_type").as("tb"),
          col("fmax").as("lb")), Seq("user_id"))
        .filter(col("fa") < col("lb"))
      val pairSup = pairs.groupBy("ta", "tb")
        .agg(count(lit(1)).as("support"))
        .select(concat(col("ta"), lit(">"), col("tb")).as("pattern"),
          lit(2L).as("len"), col("support"))
      val mab = ft.select(col("user_id"), col("event_type").as("ta"),
          col("fmin").as("fa"))
        .join(ev.select(col("user_id"), col("event_type").as("tb"),
          col("us")), Seq("user_id"))
        .filter(col("us") > col("fa"))
        .groupBy("user_id", "ta", "tb").agg(min("us").as("mab"))
      val tripSup = mab
        .join(ft.select(col("user_id"), col("event_type").as("tc"),
          col("fmax").as("lc")), Seq("user_id"))
        .filter(col("mab") < col("lc"))
        .groupBy("ta", "tb", "tc").agg(count(lit(1)).as("support"))
        .select(concat(col("ta"), lit(">"), col("tb"), lit(">"),
          col("tc")).as("pattern"), lit(3L).as("len"), col("support"))
      pairSup.unionByName(tripSup)
        .select(col("len"), col("pattern"), col("support"))
        .orderBy("len", "pattern")
    },
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events),
        |ft AS (SELECT user_id, event_type,
        |    CAST(min(us) AS BIGINT) AS fmin,
        |    CAST(max(us) AS BIGINT) AS fmax
        |  FROM ev GROUP BY 1, 2),
        |p2 AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM ft a JOIN ft b ON a.user_id = b.user_id
        |    AND a.fmin < b.fmax
        |  GROUP BY 1, 2),
        |mab AS (SELECT a.user_id, a.event_type AS ta,
        |    e.event_type AS tb, CAST(min(e.us) AS BIGINT) AS mab
        |  FROM ft a JOIN ev e ON a.user_id = e.user_id
        |    AND e.us > a.fmin
        |  GROUP BY 1, 2, 3),
        |p3 AS (SELECT m.ta, m.tb, c.event_type AS tc,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM mab m JOIN ft c ON m.user_id = c.user_id
        |    AND m.mab < c.fmax
        |  GROUP BY 1, 2, 3)
        |SELECT len, pattern, support FROM (
        |  SELECT CAST(2 AS BIGINT) AS len, ta || '>' || tb AS pattern,
        |    support FROM p2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), ta || '>' || tb || '>' || tc,
        |    support FROM p3)
        |ORDER BY len, pattern""".stripMargin),

    QueryDef("event_transitions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "next_type")
    },
      """WITH nx AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS cnt
        |FROM nx WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // time-RANGE window frame: rolling 7-DAY revenue per customer — the
    // frame is bounded by the day-index VALUE (rangeBetween), not a row
    // count, so sparse/bursty order histories aggregate correctly.
    // DECIMAL inside the frame sum keeps it order-independent.
    QueryDef("window_range_frame", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("d")
        .rangeBetween(-6, 0)
      t(s, dir, "orders")
        .withColumn("d", expr("datediff(to_date(o_orderdate), date'1995-01-01')"))
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          sum(money("o_totalprice")).over(w).cast("double").as("roll7"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll7
        |FROM (SELECT *,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // deterministic second-moment family (stddev / covariance /
    // correlation) per group: Σx, Σy, Σx², Σy², Σxy accumulate as exact
    // DECIMAL (order-independent — Spark's built-in stddev/corr use
    // per-partition float recurrences whose merge order varies run to
    // run), and only the final scalars enter a fixed IEEE chain the
    // oracle mirrors token for token.
    QueryDef("stats_moments", (s, dir) => {
      val x = money("l_quantity")
      val y = money("l_extendedprice")
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n"),
          bround(col("sx") / col("n"), 6).as("mean_x"),
          bround(col("sy") / col("n"), 6).as("mean_y"),
          bround(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)), 6).as("sd_x"),
          bround(sqrt((col("syy") - col("sy") * col("sy") / col("n")) /
            (col("n") - 1)), 6).as("sd_y"),
          bround((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1), 6).as("cov_xy"),
          bround(((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1)) /
            (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1)) *
              sqrt((col("syy") - col("sy") * col("sy") / col("n")) /
                (col("n") - 1))), 6).as("corr_xy"))
        .orderBy("l_returnflag")
    },
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM (SELECT l_returnflag,
        |      CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |    FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(sx / n, 6) AS mean_x,
        |  round(sy / n, 6) AS mean_y,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd_x,
        |  round(sqrt((syy - sy * sy / n) / (n - 1)), 6) AS sd_y,
        |  round((sxy - sx * sy / n) / (n - 1), 6) AS cov_xy,
        |  round(((sxy - sx * sy / n) / (n - 1)) /
        |    (sqrt((sxx - sx * sx / n) / (n - 1)) *
        |     sqrt((syy - sy * sy / n) / (n - 1))), 6) AS corr_xy
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // value-window family: first_value / last_value / nth_value over the
    // full partition (explicit unbounded ROWS frame — last_value under
    // the default frame is the famous footgun) + lag/lead neighbors.
    // One hash partitioning serves all five functions.
    QueryDef("window_frame_values", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("d", expr("datediff(to_date(o_orderdate), date'1995-01-01')"))
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          first(col("o_orderkey")).over(wAll).as("first_order"),
          last(col("o_orderkey")).over(wAll).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(wAll).as("second_order"),
          lag(money("o_totalprice"), 1).over(w).cast("double").as("prev_price"),
          lead(money("o_totalprice"), 1).over(w).cast("double").as("next_price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, d,
        |  first_value(o_orderkey) OVER wall AS first_order,
        |  last_value(o_orderkey) OVER wall AS last_order,
        |  nth_value(o_orderkey, 2) OVER wall AS second_order,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w
        |    AS DOUBLE) AS prev_price,
        |  CAST(lead(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w
        |    AS DOUBLE) AS next_price
        |FROM (SELECT *,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d
        |  FROM orders)
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey),
        |  wall AS (PARTITION BY o_custkey ORDER BY d, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin),

    // ratio-to-report: per-segment share of total balance. The grand
    // total is a window over the ALREADY-AGGREGATED five-row frame —
    // the raw table never sees the single-partition window.
    QueryDef("percent_of_total", (s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(sum(money("c_acctbal")).as("seg_bal"), count(lit(1)).as("custs"))
        .withColumn("total_bal", sum(col("seg_bal")).over(Window.partitionBy()))
        .select(col("c_mktsegment"), col("custs"),
          col("seg_bal").cast("double").as("seg_bal"),
          bround(col("seg_bal").cast("double") /
            col("total_bal").cast("double") * 100.0, 6).as("pct"))
        .orderBy("c_mktsegment"),
      """WITH seg AS (
        |  SELECT c_mktsegment,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS seg_bal,
        |    count(*) AS custs
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, custs, CAST(seg_bal AS DOUBLE) AS seg_bal,
        |  round(CAST(seg_bal AS DOUBLE) /
        |    CAST(sum(seg_bal) OVER () AS DOUBLE) * 100.0, 6) AS pct
        |FROM seg ORDER BY c_mktsegment""".stripMargin),

    // exact median (interpolated, both engines lower+(upper-lower)*frac)
    // + DETERMINISTIC mode: Spark's and DuckDB's native mode() break
    // count ties arbitrarily, so the mode is spelled as rank-1 of
    // (count DESC, value ASC) — a total order both engines share.
    QueryDef("median_mode", (s, dir) => {
      val o = t(s, dir, "orders")
      val med = o.groupBy("o_orderpriority").agg(
        bround(expr("median(o_totalprice)"), 6).as("median_price"),
        count(lit(1)).as("n"))
      val wm = Window.partitionBy("o_orderpriority")
        .orderBy(col("c").desc, col("o_orderstatus").asc)
      val mode = o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
          col("c").as("mode_cnt"))
      med.join(mode, "o_orderpriority").orderBy("o_orderpriority")
    },
      """WITH med AS (
        |  SELECT o_orderpriority, round(median(o_totalprice), 6) AS median_price,
        |    count(*) AS n
        |  FROM orders GROUP BY o_orderpriority),
        |c AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS c
        |  FROM orders GROUP BY o_orderpriority, o_orderstatus),
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus AS mode_status, c AS mode_cnt
        |  FROM c
        |  QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY c DESC, o_orderstatus ASC) = 1)
        |SELECT med.o_orderpriority, med.median_price, med.n,
        |  m.mode_status, m.mode_cnt
        |FROM med JOIN m USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin),

    // sketch-accuracy gate: approx_percentile (the 100 TB path — a
    // mergeable KLL-style sketch, no global sort) must land within
    // 5% + 0.05 of the exact quantile. Rows FILTER on agreement and the
    // oracle carries the exact values — if the sketch ever drifts, rows
    // vanish and the driver's row-count compare flags it.
    QueryDef("quantile_gate", (s, dir) => {
      val ps = "array(0.25D, 0.5D, 0.75D)"
      def ok(i: Int) =
        abs(element_at(col("ap"), i) - element_at(col("ex"), i)) <=
          abs(element_at(col("ex"), i)) * 0.05 + 0.05
      Tables.events(s, dir).groupBy("event_type").agg(
        expr(s"percentile(value, $ps)").as("ex"),
        expr(s"approx_percentile(value, $ps, 10000)").as("ap"))
        .filter(ok(1) && ok(2) && ok(3))
        .select(col("event_type"),
          bround(element_at(col("ex"), 1), 6).as("p25"),
          bround(element_at(col("ex"), 2), 6).as("p50"),
          bround(element_at(col("ex"), 3), 6).as("p75"))
        .orderBy("event_type")
    },
      // the oracle is the EXACT quantile; the Spark side only keeps rows
      // where the sketch agreed, so drift surfaces as missing rows
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.50), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // bipartite degree distribution of the part–supplier graph: distinct
    // edges, per-node degree on each side, then a histogram. Integer
    // counts end to end. The edge dedup is the one corpus-sized shuffle;
    // each degree aggregate re-keys the (already tiny) edge list.
    QueryDef("graph_degree", (s, dir) => {
      val e = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
      def hist(side: String, key: String) =
        e.groupBy(key).agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("nodes"))
          .select(lit(side).as("side"), col("deg"), col("nodes"))
      hist("part", "l_partkey").unionByName(hist("supp", "l_suppkey"))
        .orderBy("side", "deg")
    },
      """WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |p AS (SELECT 'part' AS side, deg, count(*) AS nodes FROM (
        |    SELECT l_partkey, count(*) AS deg FROM e GROUP BY l_partkey)
        |  GROUP BY deg),
        |s AS (SELECT 'supp' AS side, deg, count(*) AS nodes FROM (
        |    SELECT l_suppkey, count(*) AS deg FROM e GROUP BY l_suppkey)
        |  GROUP BY deg)
        |SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM s)
        |ORDER BY side, deg""".stripMargin),

    // overlapping token-window chunking (context-window prep) — map-only
    QueryDef("chunk_docs", (s, dir) =>
      TextAnalysis.chunkWithStride(t(s, dir, "documents"), 64, 48)
        .orderBy("doc_id", "chunk_idx"),
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |x AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM s)
        |SELECT doc_id, start // 48 AS chunk_idx,
        |  least(64, n - start) AS chunk_tokens,
        |  md5(array_to_string(toks[start + 1 : start + 64], ' ')) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    // GPT-3-style n-gram-overlap decontamination: doc_id%20==0 plays the
    // held-out set; every train doc sharing an 8-gram with it is dropped
    QueryDef("decontaminate_ngram", (s, dir) => {
      // fanout: gram-explode-heavy (see GraftSession.fanout; 2.0 -> 1.2 s)
      val d = GraftSession.fanout(t(s, dir, "documents"))
      val test = d.filter(col("doc_id") % 20 === 0)
      val train = d.filter(col("doc_id") % 20 =!= 0)
      Dedup.decontaminateNgrams(train, test, 8)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i + 1 : i + 8], ' ') AS gram
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i
        |    FROM toks WHERE len(t) >= 8)),
        |tg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        |bad AS (SELECT DISTINCT g.doc_id
        |  FROM g JOIN tg USING (gram) WHERE g.doc_id % 20 <> 0)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 20 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin),

    // Per-doc contamination SCORE, not just membership: the fraction of
    // a train doc's distinct 8-grams that appear anywhere in the
    // held-out set (GPT-3 §C measures overlap this way before choosing
    // a drop threshold), reported as a decile histogram. The held-out
    // gram set is benchmark-sized at any corpus scale, so the mark is
    // a BROADCAST left join onto the exploded train grams — one
    // shuffle (the per-doc count), no all-pairs anything. Integer
    // permille bands keep the oracle FP-free.
    QueryDef("contamination_score", (s, dir) => {
      val d = GraftSession.fanout(t(s, dir, "documents"))
      val grams = d.select(col("doc_id"),
          explode(Dedup.wordNgrams(col("text"), 8)).as("gram"))
        .distinct()
      val testG = grams.filter(col("doc_id") % 20 === 0)
        .select("gram").distinct()
      val marked = grams.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(testG.withColumn("__hit", lit(1L))),
          Seq("gram"), "left")
      marked.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__hit"), lit(0L))).as("hits"))
        .select(expr("(hits * 1000L div n_grams) div 100L").as("band"),
          col("n_grams"), col("hits"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"), sum("hits").as("sum_hits"),
          sum("n_grams").as("sum_grams"))
        .orderBy("band")
    },
      // same gram CTEs as decontaminate_ngram, deduped per doc, then an
      // integer-only permille/decile banding
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 8], ' ') AS gram
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i
        |    FROM toks WHERE len(t) >= 8)),
        |tg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        |pd AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits
        |  FROM g LEFT JOIN tg USING (gram)
        |  WHERE g.doc_id % 20 <> 0
        |  GROUP BY 1)
        |SELECT (hits * 1000 // n_grams) // 100 AS band,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(hits) AS BIGINT) AS sum_hits,
        |  CAST(sum(n_grams) AS BIGINT) AS sum_grams
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin),

    // MERGE / upsert semantics (the lakehouse primitive) as ONE
    // full-outer join: matched rows take the update, unmatched base rows
    // survive, unmatched updates insert. Both sides shuffle by key
    // exactly once — the plan a table-format MERGE compiles to. The
    // update/insert set derives deterministically from the base so the
    // oracle can rebuild it.
    QueryDef("merge_upsert", (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("u_status"),
          (money("o_totalprice") + 100).cast("double").as("u_price"))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 7)
          // negated keys can never collide with real (positive)
          // orderkeys at ANY scale factor; a fixed positive offset would
          // alias into the base key space once keys exceed it
          .select((-col("o_orderkey") - 1L).as("o_orderkey"),
            lit("N").as("u_status"), lit(1.0).as("u_price")))
      base.join(upd, Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("u_status"), col("o_orderstatus")).as("status"),
          coalesce(col("u_price"), col("o_totalprice")).as("price"),
          when(col("u_status").isNotNull && col("o_orderstatus").isNotNull,
            "update")
            .when(col("u_status").isNotNull, "insert")
            .otherwise("keep").as("action"))
        .orderBy("o_orderkey")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, 'U' AS u_status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE) AS u_price
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, 'N', 1.0
        |  FROM base WHERE o_orderkey % 1000 = 7)
        |SELECT coalesce(base.o_orderkey, upd.o_orderkey) AS o_orderkey,
        |  coalesce(u_status, o_orderstatus) AS status,
        |  coalesce(u_price, o_totalprice) AS price,
        |  CASE WHEN u_status IS NOT NULL AND o_orderstatus IS NOT NULL
        |         THEN 'update'
        |       WHEN u_status IS NOT NULL THEN 'insert'
        |       ELSE 'keep' END AS action
        |FROM base FULL OUTER JOIN upd USING (o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // MERGE with DELETES — [[merge_upsert]] covers matched-update and
    // not-matched-insert; this adds the third MERGE clause (matched →
    // DELETE, the CDC tombstone path) and audits the whole batch as
    // one row: per-action counts plus the survivors' exact cents
    // checksum, so a mis-applied tombstone changes the hash. Same
    // single full-outer co-partitioned shuffle; the op sets are
    // disjoint by construction (D: key%7=3; U: key%10=0 minus D;
    // I: negated keys).
    QueryDef("merge_cdc_delete", (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
      val ops = base.filter(col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey"), lit("D").as("op"),
          lit(null).cast("double").as("u_price"))
        .unionByName(base
          .filter(col("o_orderkey") % 10 === 0 &&
            col("o_orderkey") % 7 =!= 3)
          .select(col("o_orderkey"), lit("U").as("op"),
            (money("o_totalprice") + 100).cast("double").as("u_price")))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 7)
          .select((-col("o_orderkey") - 1L).as("o_orderkey"),
            lit("I").as("op"), lit(1.0).as("u_price")))
      val merged = base.join(ops, Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"), col("op"), col("o_totalprice"),
          when(col("op") === "D", lit(null).cast("double"))
            .when(col("op").isNotNull, col("u_price"))
            .otherwise(col("o_totalprice")).as("price"),
          when(col("op") === "D", "delete")
            .when(col("op") === "I", "insert")
            .when(col("op") === "U", "update")
            .otherwise("keep").as("action"))
      merged.agg(
        sum(when(col("action") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("action") === "update", 1L).otherwise(0L))
          .as("n_update"),
        sum(when(col("action") === "delete", 1L).otherwise(0L))
          .as("n_delete"),
        sum(when(col("action") === "insert", 1L).otherwise(0L))
          .as("n_insert"),
        sum(when(col("action") =!= "delete", 1L).otherwise(0L))
          .as("n_survivors"),
        sum(when(col("action") =!= "delete",
          bround(col("price") * 100).cast("long"))).as("survivor_cents"))
    },
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |ops AS (
        |  SELECT o_orderkey, 'D' AS op, CAST(NULL AS DOUBLE) AS u_price
        |  FROM base WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'U',
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE)
        |  FROM base WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT -o_orderkey - 1, 'I', 1.0
        |  FROM base WHERE o_orderkey % 1000 = 7),
        |m AS (SELECT coalesce(b.o_orderkey, o.o_orderkey) AS k, o.op,
        |    CASE WHEN o.op = 'D' THEN NULL
        |         WHEN o.op IS NOT NULL THEN o.u_price
        |         ELSE b.o_totalprice END AS price,
        |    CASE WHEN o.op = 'D' THEN 'delete'
        |         WHEN o.op = 'I' THEN 'insert'
        |         WHEN o.op = 'U' THEN 'update'
        |         ELSE 'keep' END AS action
        |  FROM base b FULL OUTER JOIN ops o
        |    ON b.o_orderkey = o.o_orderkey)
        |SELECT
        |  CAST(sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_keep,
        |  CAST(sum(CASE WHEN action = 'update' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_update,
        |  CAST(sum(CASE WHEN action = 'delete' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_delete,
        |  CAST(sum(CASE WHEN action = 'insert' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_insert,
        |  CAST(sum(CASE WHEN action <> 'delete' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_survivors,
        |  CAST(sum(CASE WHEN action <> 'delete' THEN
        |    CAST(round_even(price * 100, 0) AS BIGINT) END) AS BIGINT)
        |    AS survivor_cents
        |FROM m""".stripMargin),

    // time-weighted average: Σ value·Δt / Σ Δt per user, Δt in integer
    // microseconds and value in DECIMAL so both sums are exact and
    // order-independent; one window pass shares the final groupBy's
    // (user_id) partitioning.
    QueryDef("time_weighted_avg", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          money("value").as("v"))
        .withColumn("dt_us",
          lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
        // dt > 0, not just NOT NULL: zero-length intervals carry no
        // weight, and an all-zero user would hit 0/0 — NaN in Spark but
        // NULL in the oracle's engine
        .filter(col("dt_us") > 0)
        .groupBy("user_id")
        .agg(sum(col("v") * col("dt_us")).as("vdt"),
          sum("dt_us").as("t_us"),
          count(lit(1)).as("n_intervals"))
        .select(col("user_id"), col("n_intervals"),
          bround(col("vdt").cast("double") / col("t_us").cast("double"), 6)
            .as("twa"))
        .orderBy("user_id")
    },
      """WITH iv AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dt_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  round(CAST(sum(v * dt_us) AS DOUBLE) /
        |    CAST(sum(dt_us) AS DOUBLE), 6) AS twa
        |FROM iv WHERE dt_us > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // calendar gap-fill + last-observation-carried-forward: per-user day
    // spine (sequence over the observed span), left join the daily
    // counts, LOCF via last(ignoreNulls) — the densification step before
    // any day-aligned time-series model. Integer day indices and counts
    // end to end.
    QueryDef("gap_fill", (s, dir) => {
      val daily = Tables.events(s, dir)
        .withColumn("d", expr("datediff(to_date(ts), date'2024-01-01')"))
        .groupBy("user_id", "d").agg(count(lit(1)).as("cnt"))
      val spine = daily.groupBy("user_id")
        .agg(min("d").as("d0"), max("d").as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          last(col("cnt"), ignoreNulls = true).over(w).as("filled_cnt"),
          col("cnt").isNotNull.as("present"))
        .orderBy("user_id", "d")
    },
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(range(d0, d1 + 1)) AS d
        |  FROM (SELECT user_id, min(d) AS d0, max(d) AS d1
        |    FROM daily GROUP BY user_id))
        |SELECT s.user_id, s.d,
        |  last_value(daily.cnt IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cnt,
        |  daily.cnt IS NOT NULL AS present
        |FROM spine s LEFT JOIN daily
        |  ON s.user_id = daily.user_id AND s.d = daily.d
        |ORDER BY s.user_id, s.d""".stripMargin),

    // horizon dedup: first event per (user, type) within each 6-hour
    // bucket — the batch twin of streaming watermark dedup. Bucket is
    // integer µs division; WindowGroupLimit prunes each input partition
    // to its per-key head before the shuffle.
    QueryDef("dedup_horizon", (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type", "bucket")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("bucket", expr("unix_micros(ts) div 21600000000"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("bucket"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type,
        |  epoch_us(ts) // 21600000000 AS bucket
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type, epoch_us(ts) // 21600000000
        |  ORDER BY ts, event_id) = 1
        |ORDER BY event_id""".stripMargin),

    // C4-style line-level dedup [Raffel et al., arXiv:1910.10683 §2.2]:
    // a sentence appearing in ≥2 distinct documents is boilerplate
    // (navigation, disclaimers); per-doc boilerplate fraction drives
    // filtering. The shuffle carries (md5, doc_id), never the text.
    QueryDef("line_dedup", (s, dir) => {
      val lines = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, '[^.]+', 0)")).as("raw"))
        .filter(length(trim(col("raw"))) > 0)
        .select(col("doc_id"),
          md5(trim(lower(col("raw"))).cast("binary")).as("lf"))
      val freq = lines.groupBy("lf")
        .agg(countDistinct("doc_id").as("nd"))
      lines.join(freq, "lf")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("nd") >= 2, lit(1))).as("bp_lines"))
        .withColumn("bp_frac",
          col("bp_lines").cast("double") / col("n_lines").cast("double"))
        .orderBy("doc_id")
    },
      """WITH lines AS (
        |  SELECT doc_id, md5(trim(lower(raw))) AS lf
        |  FROM (SELECT doc_id,
        |      unnest(regexp_extract_all(text, '[^.]+')) AS raw
        |    FROM documents)
        |  WHERE length(trim(raw)) > 0),
        |freq AS (SELECT lf, count(DISTINCT doc_id) AS nd
        |  FROM lines GROUP BY lf)
        |SELECT doc_id, count(*) AS n_lines,
        |  count(CASE WHEN nd >= 2 THEN 1 END) AS bp_lines,
        |  CAST(count(CASE WHEN nd >= 2 THEN 1 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS bp_frac
        |FROM lines JOIN freq USING (lf)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // unit-normalize + int8-quantize embeddings (the storage/serving
    // format for a 100 TB vector corpus: 4× smaller, SIMD-friendly).
    // The squared norm folds SEQUENTIALLY over the array (deterministic
    // order, same as the native dot-product expression); quantization is
    // floor(x/norm·127 + ½) — floor, not round, so no tie-break
    // ambiguity across engines. Map-only, no shuffle.
    QueryDef("embed_quantize", (s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))))
        .filter(col("norm") > 0)
        .withColumn("q", transform(col("embedding"),
          x => floor(x.cast("double") / col("norm") * 127.0 + 0.5)))
        .select(col("vec_id"), bround(col("norm"), 6).as("norm_r"),
          md5(concat_ws(",", transform(col("q"), _.cast("string")))
            .cast("binary")).as("q_md5"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"))
        .orderBy("vec_id")
    },
      // norm folds in index order on both sides (list_reduce is
      // sequential, matching Spark's aggregate()); floor avoids rounding
      // tie-breaks entirely
      """WITH n AS (
        |  SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, embedding),
        |      (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm
        |  FROM embeddings),
        |q AS (
        |  SELECT e.vec_id, n.norm,
        |    list_transform(e.embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / n.norm * 127.0 + 0.5)
        |        AS BIGINT)) AS q
        |  FROM embeddings e JOIN n USING (vec_id) WHERE n.norm > 0)
        |SELECT vec_id, round(norm, 6) AS norm_r,
        |  md5(array_to_string(q, ',')) AS q_md5,
        |  CAST(list_reduce(list_prepend(0, q), (a, x) -> a + x) AS BIGINT)
        |    AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin),

    // Z-order (Morton) layout metric: interleave customer key and day
    // index, bucket the curve, and measure per-bucket min/max width on
    // BOTH dimensions — the quantity parquet row-group skipping depends
    // on. A lexicographic (custkey, day) sort gives narrow custkey
    // ranges but full-width day ranges; the Z-curve bounds both, so
    // EITHER predicate prunes. The interleave expression is one shared
    // SQL string, so engine and oracle compute identical integers.
    // NOTE the 16-bit inputs assume pre-quantized keys (true for this
    // data: custkey < 65536, d ∈ [0, 2404]); a production layout pass
    // would first range-quantize each dimension into 2^16 rank buckets
    // so arbitrary key domains can't alias/wrap on the curve.
    QueryDef("zorder_layout", (s, dir) => {
      val z = Analytics.interleave16Sql("o_custkey % 65536", "d")
      t(s, dir, "orders")
        .withColumn("d", expr("datediff(to_date(o_orderdate), date'1995-01-01')"))
        .withColumn("zb", expr(s"$z >> 12"))
        .groupBy("zb").agg(
          count(lit(1)).as("n_rows"),
          (max("o_custkey") - min("o_custkey")).as("cust_width"),
          (max("d") - min("d")).as("day_width"))
        .orderBy("zb")
    },
      s"""WITH o AS (SELECT o_custkey,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d
        |  FROM orders)
        |SELECT ${interleave16Sql("o_custkey % 65536", "d")} >> 12 AS zb,
        |  count(*) AS n_rows,
        |  max(o_custkey) - min(o_custkey) AS cust_width,
        |  max(d) - min(d) AS day_width
        |FROM o GROUP BY 1 ORDER BY zb""".stripMargin),

    // Hilbert-curve layout metric — the OTHER clustering curve
    // lakehouse formats offer next to Z-order, computed by the native
    // codegen'd [[graft.functions.HilbertIndex]] expression (a nested
    // CASE spelling of the 16-level walk would blow up ~4× per level
    // under projection collapse; the custom Expression is the scalable
    // form, and is also injected as SQL `hilbert_index` via
    // GraftExtensions). Same grid, same `>> 12` bucket granularity,
    // and same per-bucket width metric as `zorder_layout`, so the two
    // curves' locality is directly comparable row-for-row: Hilbert has
    // no Z-jump, so bucket widths stay bounded where Morton buckets
    // straddle quadrant seams. The oracle replays the identical
    // integer walk as 16 chained CTEs built by the SAME generator
    // contract ([[hilbertOracleCtes]]) — pure integer arithmetic, no
    // IEEE anywhere; SketchSpec proves the curve theorems (bijection,
    // unit Manhattan steps) exhaustively on a small grid.
    QueryDef("hilbert_layout", (s, dir) => {
      val hx = (a: Column, b: Column) =>
        org.apache.spark.sql.graftbridge.GraftBridge.column(
          graft.functions.HilbertIndex(
            org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
            org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))
      t(s, dir, "orders")
        .withColumn("d", expr("datediff(to_date(o_orderdate), date'1995-01-01')"))
        .withColumn("hb", shiftright(
          hx(expr("CAST(o_custkey % 65536 AS BIGINT)"), col("d").cast("long")),
          12))
        .groupBy("hb").agg(
          count(lit(1)).as("n_rows"),
          (max("o_custkey") - min("o_custkey")).as("cust_width"),
          (max("d") - min("d")).as("day_width"))
        .orderBy("hb")
    },
      s"""WITH h0 AS (SELECT o_custkey,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS d0,
        |    CAST(o_custkey % 65536 AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(0 AS BIGINT) AS hd
        |  FROM orders),
        |${hilbertOracleCtes}
        |SELECT hd >> 12 AS hb, count(*) AS n_rows,
        |  max(o_custkey) - min(o_custkey) AS cust_width,
        |  max(d0) - min(d0) AS day_width
        |FROM h16 GROUP BY 1 ORDER BY hb""".stripMargin),

    // quality-weighted deterministic sampling: keep probability scales
    // with token count (capped at 1), decided by the portable md5
    // per-mille bucket — so the compare is pure INTEGER
    // (bucket < min(1000, 2·n_tokens)), no float thresholds, and the
    // sample is reproducible across runs, engines, and partitionings.
    QueryDef("quality_sample", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("keep",
          bucket1000("qs", col("doc_id")) <
            least(lit(1000L), col("n_tokens") * 2L))
      d.groupBy("lang").agg(
        count(lit(1)).as("total"),
        count(when(col("keep"), lit(1))).as("kept"),
        sum(when(col("keep"), col("n_chars"))).as("kept_chars"))
        .orderBy("lang")
    },
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |    CAST('0x' || substr(md5('qs' || CAST(doc_id AS VARCHAR)), 1, 7)
        |      AS BIGINT) % 1000 AS bucket
        |  FROM documents)
        |SELECT lang, count(*) AS total,
        |  count(CASE WHEN bucket < least(1000, 2 * n_tokens) THEN 1 END)
        |    AS kept,
        |  CAST(sum(CASE WHEN bucket < least(1000, 2 * n_tokens)
        |    THEN n_chars END) AS BIGINT) AS kept_chars
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    // strict-order funnel with a per-step conversion window (signup →
    // view → click → purchase, each step within 6 h of the previous):
    // ONE scan, ONE shuffle — each user's events collect and sort
    // locally, then a sequential fold walks the timeline carrying
    // (stage, stage_time). The chained-join spelling (the oracle) scans
    // the fact table four times; at 100 TB the fold wins outright.
    QueryDef("funnel_ordered", (s, dir) => funnelOrdered(s, dir),
      """WITH t1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) > t1.t
        |    AND epoch_us(e.ts) - t1.t <= 21600000000
        |  GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > t2.t
        |    AND epoch_us(e.ts) - t2.t <= 21600000000
        |  GROUP BY e.user_id),
        |t4 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN t3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t3.t
        |    AND epoch_us(e.ts) - t3.t <= 21600000000
        |  GROUP BY e.user_id),
        |st AS (SELECT u.user_id,
        |    CASE WHEN t4.user_id IS NOT NULL THEN 4
        |         WHEN t3.user_id IS NOT NULL THEN 3
        |         WHEN t2.user_id IS NOT NULL THEN 2
        |         WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |  LEFT JOIN t3 USING (user_id) LEFT JOIN t4 USING (user_id))
        |SELECT stage, count(*) AS users FROM st
        |GROUP BY stage ORDER BY stage""".stripMargin),

    // Exact SUBSEQUENCE counting (episode mining): per user, the
    // number of index triples i<j<k with types view→click→purchase —
    // funnel_ordered reports whether ONE strict path completed; this
    // counts ALL of them (the combinatorial engagement-intensity
    // signal, and the denominator of path-attribution rates). The DP
    // c_v→c_vc→c_vcp unrolls into two STACKED cumulative windows over
    // one user-keyed sort (Spark reuses the exchange+sort for both):
    // views-so-far feeds each click's pair count, pairs-so-far feeds
    // each purchase's triple count — no collect_list, no per-user
    // memory, counts stay exact BIGINTs. Readout: top-10 users + the
    // corpus total.
    QueryDef("subseq_count", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
      val wb = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val s1 = ev.withColumn("cv", coalesce(
        sum(when(col("event_type") === "view", 1L)).over(wb), lit(0L)))
      val s2 = s1.withColumn("cvc", coalesce(
        sum(when(col("event_type") === "click", col("cv"))).over(wb),
        lit(0L)))
      val per = s2.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", col("cvc"))
          .otherwise(0L)).as("subseqs"))
      per.filter(col("subseqs") > 0)
        .crossJoin(broadcast(
          per.agg(sum("subseqs").as("total_subseqs"))))
        .select(col("user_id"), col("n_events"), col("subseqs"),
          col("total_subseqs"))
        .orderBy(col("subseqs").desc, col("user_id"))
        .limit(10)
    },
      // the oracle spells the funnel as chained first-occurrence joins
      // (each step strictly after, and within 6 h of, the previous) — an
      // independent derivation of the same greedy first-touch semantics
      // same stacked cumulative windows (DuckDB nests them via two CTE
      // hops, as Spark does via two window operators on one sort)
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT *, coalesce(sum(CASE WHEN event_type = 'view'
        |      THEN 1 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cv
        |  FROM ev),
        |s2 AS (SELECT *, coalesce(sum(CASE WHEN event_type = 'click'
        |      THEN cv END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cvc
        |  FROM s1),
        |per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN cvc
        |      ELSE 0 END) AS BIGINT) AS subseqs
        |  FROM s2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(subseqs) AS BIGINT) AS total_subseqs
        |  FROM per)
        |SELECT user_id, n_events, subseqs, total_subseqs
        |FROM per, tot WHERE subseqs > 0
        |ORDER BY subseqs DESC, user_id LIMIT 10""".stripMargin),

    // incremental materialization: daily rollups land in a
    // date-partitioned table in two increments (backfill + refresh);
    // reading the table back must equal the one-shot full aggregation —
    // the correctness contract of every incremental pipeline. Disjoint
    // partition appends never rewrite old data.
    QueryDef("incremental_agg", (s, dir) => {
      val path = Scratch.dir(dir, "incremental_daily")
      val ev = Tables.events(s, dir)
        .withColumn("d", expr("datediff(to_date(ts), date'2024-01-01')"))
      def daily(f: Column) = ev.filter(f).groupBy("d", "event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(money("value")).cast("double").as("val_sum"))
      daily(col("d") <= 14).write.mode("overwrite").partitionBy("d")
        .parquet(path)
      daily(col("d") > 14).write.mode("append").partitionBy("d")
        .parquet(path)
      s.read.parquet(path)
        .select("d", "event_type", "cnt", "val_sum")
        .orderBy("d", "event_type")
    },
      """SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin),

    // dynamic partition overwrite: a stale-partition REWRITE must
    // replace ONLY the partitions present in the incoming frame and
    // leave every other partition untouched — the refresh primitive of
    // a partitioned lake. The first write plants wrong values for days
    // ≥ 15; the dynamic overwrite repairs exactly those; the read-back
    // must equal the full recompute (the oracle). If Spark fell back to
    // static overwrite the early days would vanish; if the repair
    // missed, the zeros would surface — either way the gate trips.
    QueryDef("dynamic_overwrite", (s, dir) => {
      val path = Scratch.dir(dir, "incremental_dyn")
      val daily = Tables.events(s, dir)
        .withColumn("d", expr("datediff(to_date(ts), date'2024-01-01')"))
        .groupBy("d", "event_type").agg(count(lit(1)).as("cnt"))
      daily.withColumn("cnt",
        when(col("d") >= 15, lit(0L)).otherwise(col("cnt")))
        .write.mode("overwrite").partitionBy("d").parquet(path)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try daily.filter(col("d") >= 15)
        .write.mode("overwrite").partitionBy("d").parquet(path)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(path)
        .select("d", "event_type", "cnt").orderBy("d", "event_type")
    },
      // final state after the dynamic-partition repair = full recompute
      """SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |  event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin),

    // schema evolution: two parquet batches with DIFFERENT column sets
    // land in one table; mergeSchema unions the schemas and nulls the
    // absent columns — the contract that lets a 100 TB table add
    // columns without rewriting history
    QueryDef("schema_merge", (s, dir) => {
      val path = Scratch.dir(dir, "evolve")
      val d = t(s, dir, "documents")
      org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), lit(1).as("batch"))
        .write.mode("append").partitionBy("batch").parquet(path)
      d.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("n_chars"), lit(2).as("batch"))
        .write.mode("append").partitionBy("batch").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("batch").agg(
          count(lit(1)).as("n"),
          count(col("lang")).as("n_lang"),
          count(col("n_chars")).as("n_chars_cnt"))
        .select(col("batch").cast("int").as("batch"), col("n"),
          col("n_lang"), col("n_chars_cnt"))
        .orderBy("batch")
    },
      """SELECT CAST(1 AS INT) AS batch, count(*) AS n,
        |  count(*) AS n_lang, CAST(0 AS BIGINT) AS n_chars_cnt
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INT), count(*), CAST(0 AS BIGINT), count(*)
        |FROM documents WHERE doc_id % 2 <> 0
        |ORDER BY batch""".stripMargin),

    // collection aggregation: sorted distinct-set per group —
    // collect_set shuffles one small set per group (map-side partial
    // merge), sort_array pins the element order, and concat_ws emits
    // the canonical comma-joined form (a real ARRAY column isn't
    // hashable by the driver's pandas compare, so the registered
    // surface is the string; the set semantics are identical)
    QueryDef("collections_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
            .as("statuses"),
          countDistinct("o_orderstatus").as("n_statuses"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  string_agg(s, ',' ORDER BY s) AS statuses,
        |  count(*) AS n_statuses
        |FROM (SELECT DISTINCT o_orderpriority, o_orderstatus AS s
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // MAP-typed column surface (the feature-store column shape):
    // per-order map linenumber→quantity built with map_from_entries
    // over a SORTED entry list (collect_list order is nondeterministic;
    // the sort pins it), then transform_values / map_filter / map_keys
    // / map_entries, flattened back to rows for the value gate. The
    // oracle re-derives the flattened result relationally — the map is
    // the Spark-side representation under test, the values are the
    // contract.
    QueryDef("map_functions", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(97)) === 0)
        // the harness data repeats linenumbers within an order; map
        // keys must be unique, so the entry value is the per-key sum
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum("l_quantity").as("q"))
      val m = li.groupBy("l_orderkey").agg(
        map_from_entries(array_sort(collect_list(
          struct(col("l_linenumber"), col("q"))))).as("m"))
      m.select(col("l_orderkey"),
          size(col("m")).as("n_items"),
          expr("transform_values(m, (k, v) -> v * 2)").as("m2"),
          expr("map_filter(m, (k, v) -> v > 25)").as("mf"))
        .select(col("l_orderkey"), col("n_items"),
          explode(map_entries(col("m2"))).as("e"),
          col("mf"))
        .select(col("l_orderkey"), col("n_items"),
          col("e.key").as("linenumber"),
          bround(col("e.value"), 2).as("qty2"),
          array_contains(map_keys(col("mf")), col("e.key")).as("kept"))
        .orderBy("l_orderkey", "linenumber")
    },
      // relational re-derivation of the flattened map pipeline
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |    sum(l_quantity) AS q
        |  FROM lineitem WHERE l_orderkey % 97 = 0 GROUP BY 1, 2)
        |SELECT l_orderkey,
        |  CAST(count(*) OVER (PARTITION BY l_orderkey) AS INT) AS n_items,
        |  l_linenumber AS linenumber,
        |  round_even(q * 2, 2) AS qty2,
        |  q > 25 AS kept
        |FROM li ORDER BY l_orderkey, linenumber""".stripMargin),

    // correlated EXISTS / NOT EXISTS through the SQL front end: Catalyst
    // rewrites the pair into one semi- and one anti-join — no per-row
    // subquery execution ever happens
    QueryDef("exists_correlated", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_custkey, c_mktsegment FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |    WHERE o.o_custkey = c.c_custkey
          |      AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM orders_v o
          |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // NULL-semantics corner: a nullable key GROUPs as its own bucket,
    // sorts NULLS FIRST, and counts null-safely — the semantics a
    // SQL-on-anything engine must pin down, spelled identically in both
    // engines
    QueryDef("null_semantics", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          nullif(col("event_type"), lit("error")).as("t"))
        .groupBy("t")
        .agg(count(lit(1)).as("cnt"), count(col("t")).as("cnt_nonnull"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy(col("t").asc_nulls_first),
      """SELECT nullif(event_type, 'error') AS t, count(*) AS cnt,
        |  count(nullif(event_type, 'error')) AS cnt_nonnull,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1 ORDER BY t NULLS FIRST""".stripMargin),

    // native session_window() in BATCH: per-user sessions with a 6 h
    // inactivity gap, straight from the same function the streaming
    // surface uses. The oracle derives identical sessions via
    // gaps-and-islands (lag + running flag-sum) — an independent
    // spelling of the merge semantics.
    QueryDef("session_window_native", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "6 hours").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us"),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |m AS (SELECT user_id, tu,
        |    CASE WHEN lag(tu) OVER w IS NULL
        |         OR tu - lag(tu) OVER w >= 21600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
        |s AS (SELECT user_id, tu,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tu
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(tu) AS start_us,
        |  max(tu) + 21600000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin),

    // approx_count_distinct (HLL++, mergeable — no key shuffle at
    // 100 TB) gated against the exact count: rows where the sketch
    // drifts past 10% vanish and the driver's row compare flags it.
    QueryDef("distinct_gate", (s, dir) => {
      // exact and sketch run as SEPARATE aggregates joined on the tiny
      // group key: combining them in one agg forces an Expand (every
      // row duplicated for the distinct branch) with the 2^14-register
      // HLL updated on the expanded stream — measured 2.3 s vs 0.9 s
      // for the two-aggregate spelling at sf0.1
      val ev = Tables.events(s, dir)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      val approx = ev.groupBy("event_type")
        .agg(approx_count_distinct("user_id", 0.01).as("approx_users"))
      exact.join(approx, Seq("event_type"))
        .filter(abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.1))
        .select("event_type", "exact_users")
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // pivot with MULTIPLE aggregates per cell (count + DECIMAL sum):
    // one shuffle produces the whole grid; Spark suffixes the column
    // names, the oracle spells the same cells as conditional aggregates
    QueryDef("pivot_multi", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("cnt"),
          sum(money("o_totalprice")).cast("double").as("total"))
        .na.fill(0L)
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_cnt,
        |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0)
        |    AS F_total,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_cnt,
        |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0)
        |    AS O_total,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_cnt,
        |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0)
        |    AS P_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // conditional aggregate over a ROWS frame: purchases among each
    // user's last-5 events — frame + predicate compose inside one
    // window pass
    QueryDef("conditional_window", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w).as("purchases_last5"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS purchases_last5
        |FROM events ORDER BY event_id""".stripMargin),

    // daily new vs returning actives + cumulative reach: first-seen day
    // per user (a users-sized aggregate, broadcast back), then pure
    // integer arithmetic — the growth-analytics staple, with no
    // cumulative-DISTINCT shuffle anywhere.
    QueryDef("new_vs_returning", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      val firstSeen = ev.groupBy("user_id").agg(min("d").as("d0"))
      val daily = ev.join(broadcast(firstSeen), "user_id")
        .groupBy("d").agg(
          countDistinct("user_id").as("active_users"),
          countDistinct(when(col("d") === col("d0"), col("user_id")))
            .as("new_users"))
      daily
        .withColumn("returning_users",
          col("active_users") - col("new_users"))
        .withColumn("cumulative_users",
          sum("new_users").over(Window.orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("d")
    },
      """WITH ev AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id),
        |daily AS (
        |  SELECT d, count(DISTINCT ev.user_id) AS active_users,
        |    count(DISTINCT CASE WHEN d = d0 THEN ev.user_id END) AS new_users
        |  FROM ev JOIN f USING (user_id) GROUP BY d)
        |SELECT d, active_users, new_users,
        |  active_users - new_users AS returning_users,
        |  CAST(sum(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users
        |FROM daily ORDER BY d""".stripMargin),

    // TPC-H Q3-shaped composite: selective dimension filter → 3-way
    // join → DECIMAL revenue rollup → top-10. The plan to want at
    // 100 TB: filters reach every scan (PushedFilters), the filtered
    // customer side broadcasts, lineitem⋈orders shuffles once on the
    // key both sides already aggregate on, and the top-10 is a
    // TakeOrderedAndProject (no global sort materialization).
    QueryDef("tpch_q3_like", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-01-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val revenue = sum(money("l_extendedprice") *
        (lit(1).cast(DecimalType(18, 2)) - money("l_discount")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(revenue.cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-15'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),

    // TPC-H Q18-shaped composite (large-volume orders): the
    // HAVING-prunes-then-broadcast pattern — the fact-side group-by
    // reduces 100 TB of lineitem to the handful of orders clearing the
    // quantity threshold, and THAT tiny set broadcasts through both
    // dimension joins (zero further shuffles), finishing in a
    // TakeOrdered top-100. Quantities quantize to integer cents before
    // the sum so the HAVING cut is bit-identical across engines.
    QueryDef("tpch_q18_like", (s, dir) => {
      val bo = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(bround(col("l_quantity") * 100).cast("long"))
          .as("sum_qty_cents"))
        .filter(col("sum_qty_cents") > 28000)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      val bigOrders = o.join(broadcast(bo),
        col("l_orderkey") === col("o_orderkey"))
      c.join(broadcast(bigOrders), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("l_orderkey").as("orderkey"),
          bround(col("o_totalprice") * 100).cast("long")
            .as("totalprice_cents"),
          col("sum_qty_cents"))
        .orderBy(col("sum_qty_cents").desc, col("orderkey").asc)
        .limit(100)
    },
      """WITH bo AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round_even(l_quantity * 100, 0) AS BIGINT))
        |      AS BIGINT) AS sum_qty_cents
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(round_even(l_quantity * 100, 0) AS BIGINT))
        |    AS BIGINT) > 28000)
        |SELECT c.c_custkey, c.c_name, bo.l_orderkey AS orderkey,
        |  CAST(round_even(o.o_totalprice * 100, 0) AS BIGINT)
        |    AS totalprice_cents,
        |  bo.sum_qty_cents
        |FROM bo JOIN orders o ON bo.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY bo.sum_qty_cents DESC, orderkey LIMIT 100""".stripMargin),

    // Join-cardinality estimation — the pre-flight a planner (or an
    // engineer) runs BEFORE committing a 100 TB shuffle join: both
    // sides profile into 64 md5-bucket histograms (rows + distinct
    // keys per bucket — two tiny aggregates), the estimate applies the
    // classic uniform-frequency formula Σ_b rowsA·rowsB/max(dA,dB)
    // per bucket (micro-quantized before the cross-bucket sum), and
    // the EXACT join size Σ_k cntA(k)·cntB(k) rides along from a
    // per-key count join that never materializes the join output.
    // The readout is the estimator's own relative error.
    QueryDef("join_size_estimate", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      def prof(df: DataFrame, rc: String, dc: String) = df
        .groupBy(Dedup.hashBucket(
          concat(lit("jse:"), col("k").cast("string")), 64L).as("b"))
        .agg(count(lit(1)).as(rc), countDistinct("k").as(dc))
      val est = prof(li, "ra", "da")
        .join(prof(o, "rb", "db"), Seq("b"))
        .select(bround(col("ra").cast("double") * col("rb").cast("double")
          / greatest(col("da"), col("db")).cast("double")
          * lit(1000000.0)).cast("long").as("term_micros"))
        .agg(sum("term_micros").as("est_micros"))
      val actual = li.groupBy("k").agg(count(lit(1)).as("ca"))
        .join(o.groupBy("k").agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("actual_rows"))
      est.crossJoin(actual)
        .select(col("est_micros"), col("actual_rows"),
          bround((col("est_micros").cast("double") / lit(1000000.0)
            - col("actual_rows").cast("double"))
            / col("actual_rows").cast("double"), 6).as("rel_error"))
    },
      """WITH a AS (SELECT l_orderkey AS k FROM lineitem),
        |b AS (SELECT o_orderkey AS k FROM orders),
        |pa AS (SELECT CAST('0x' || substr(md5('jse:' ||
        |      CAST(k AS VARCHAR)), 1, 7) AS BIGINT) % 64 AS bkt,
        |    CAST(count(*) AS BIGINT) AS ra,
        |    CAST(count(DISTINCT k) AS BIGINT) AS da
        |  FROM a GROUP BY 1),
        |pb AS (SELECT CAST('0x' || substr(md5('jse:' ||
        |      CAST(k AS VARCHAR)), 1, 7) AS BIGINT) % 64 AS bkt,
        |    CAST(count(*) AS BIGINT) AS rb,
        |    CAST(count(DISTINCT k) AS BIGINT) AS db
        |  FROM b GROUP BY 1),
        |est AS (SELECT CAST(sum(CAST(round_even(
        |      CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |      / CAST(greatest(da, db) AS DOUBLE) * 1000000.0, 0)
        |    AS BIGINT)) AS BIGINT) AS est_micros
        |  FROM pa JOIN pb USING (bkt)),
        |act AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS actual_rows
        |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS ca
        |        FROM a GROUP BY 1) xa
        |  JOIN (SELECT k, CAST(count(*) AS BIGINT) AS cb
        |        FROM b GROUP BY 1) xb USING (k))
        |SELECT est_micros, actual_rows,
        |  CAST(round_even((CAST(est_micros AS DOUBLE) / 1000000.0
        |    - CAST(actual_rows AS DOUBLE))
        |    / CAST(actual_rows AS DOUBLE), 6) AS DOUBLE) AS rel_error
        |FROM est CROSS JOIN act""".stripMargin),

    // hopping (sliding) windows in BATCH via the same window() used by
    // the streaming surface: 2-day windows hopping daily — each event
    // lands in exactly two windows; the oracle derives the same pair of
    // window starts arithmetically
    QueryDef("sliding_window_agg", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          expr("datediff(to_date(w.start), date'2024-01-01')").as("w_start_d"),
          col("event_type"), col("cnt"))
        .orderBy("w_start_d", "event_type"),
      // 2-day windows hopping daily: an event on day d lands in the
      // windows starting d-1 and d (window() aligns to epoch, which is
      // day-aligned)
      """WITH ev AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |x AS (SELECT event_type, d, unnest([d - 1, d]) AS w_start_d FROM ev)
        |SELECT w_start_d, event_type, count(*) AS cnt
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
