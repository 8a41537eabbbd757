package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Scratch
import graft.io.Tables.{events, read => t}

/** Relational operator queries for the driver's DuckDB-oracle gate: each
  * entry exercises one operator family from SURVEY §2 over the harness's
  * parquet tables, with a value-for-value-identical ANSI SQL twin
  * registered beside it in [[defs]].
  *
  * Determinism rules that keep Spark and DuckDB hash-identical:
  *  - money sums go through DECIMAL(18,2) (exact, order-independent) and
  *    only the final scalar is cast back to double;
  *  - sums of integer-valued doubles (quantities, counts) are exact in
  *    binary and safe to sum directly;
  *  - every result has a total ORDER BY;
  *  - no raw timestamps in outputs (parquet ns vs µs precision).
  *
  * Double→long truncation is toward zero in Spark (`cast("long")`, matching
  * the reference's `astype(float).astype(int)`, report_engine.py:225) but
  * ROUNDS in DuckDB's bigint cast — the oracles spell `trunc()` explicitly.
  */
object Relational {

  private def money(c: String) = col(c).cast(DecimalType(18, 2))

  /** Column checksums every format round-trip must preserve (computed by
    * DuckDB from the parquet originals).
    */
  private val roundtripChecksumOracle: String =
    """SELECT count(*) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS langs,
      |  CAST(sum(length(text)) AS BIGINT) AS text_len
      |FROM documents""".stripMargin

  /** The Spark side of [[roundtripChecksumOracle]]. */
  private def roundtripChecksum(d: DataFrame): DataFrame = d.agg(
    count(lit(1)).as("n"),
    sum("doc_id").as("id_sum"),
    sum("n_chars").as("chars"),
    countDistinct("lang").as("langs"),
    sum(length(col("text")).cast("long")).as("text_len"))

  val defs: Seq[QueryDef] = Seq(
    // GROUP BY + COUNT (SURVEY §2.4; report_engine.py:179-183)
    QueryDef("groupby_count", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(count("event_type").as("cnt"))
        .orderBy("event_type"),
      """SELECT event_type, count(event_type) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // boolean mask + conditional sum (report_engine.py:279-281)
    QueryDef("conditional_sum", (s, dir) =>
      t(s, dir, "orders").agg(
        sum(when(col("o_orderstatus").isin("O", "F"), money("o_totalprice")))
          .cast("double").as("cond_sum"),
        count(when(col("o_orderstatus").isin("O", "F"), lit(1))).as("cond_cnt")),
      """SELECT
        |  CAST(sum(CASE WHEN o_orderstatus IN ('O','F')
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS cond_sum,
        |  count(CASE WHEN o_orderstatus IN ('O','F') THEN 1 END) AS cond_cnt
        |FROM orders""".stripMargin),

    // NULLIF('')-then-cast before SUM (report_engine.py:149-153)
    QueryDef("nullif_cast_sum", (s, dir) =>
      t(s, dir, "lineitem").agg(
        sum(nullif(col("l_quantity").cast("string"), lit("")).cast("double"))
          .as("qty_sum"),
        count(lit(1)).as("row_cnt")),
      """SELECT
        |  sum(CAST(nullif(CAST(l_quantity AS VARCHAR), '') AS DOUBLE)) AS qty_sum,
        |  count(*) AS row_cnt
        |FROM lineitem""".stripMargin),

    // per-value double→long truncation BEFORE summing (report_engine.py:225)
    QueryDef("trunc_multi_sum", (s, dir) =>
      t(s, dir, "lineitem").agg(
        sum(col("l_quantity").cast("double").cast("long")).as("qty_trunc_sum"),
        sum(col("l_extendedprice").cast("double").cast("long")).as("price_trunc_sum"),
        sum(col("l_discount").cast("double").cast("long")).as("disc_trunc_sum")),
      // outer CAST: DuckDB types sum(BIGINT) as HUGEINT, Spark as BIGINT —
      // without it the hash compare fails on type, not value
      """SELECT
        |  CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS qty_trunc_sum,
        |  CAST(sum(CAST(trunc(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_trunc_sum,
        |  CAST(sum(CAST(trunc(l_discount) AS BIGINT)) AS BIGINT) AS disc_trunc_sum
        |FROM lineitem""".stripMargin),

    // equality + IN-list + IS NOT NULL conjunction (report_engine.py:181-182)
    QueryDef("filters", (s, dir) =>
      t(s, dir, "orders")
        .filter(
          col("o_orderstatus").isin("O", "P") &&
            col("o_orderpriority") === "1-URGENT" &&
            col("o_custkey").isNotNull)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderstatus IN ('O','P') AND o_orderpriority = '1-URGENT'
        |  AND o_custkey IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),

    // cross-join of single-row aggregates (SURVEY §2.3 option 2)
    QueryDef("crossjoin_wide", (s, dir) =>
      t(s, dir, "orders").agg(count(lit(1)).as("order_cnt"))
        .crossJoin(t(s, dir, "lineitem").agg(count(lit(1)).as("li_cnt")))
        .crossJoin(events(s, dir).agg(count(lit(1)).as("event_cnt"))),
      """SELECT * FROM
        |  (SELECT count(*) AS order_cnt FROM orders)
        |  CROSS JOIN (SELECT count(*) AS li_cnt FROM lineitem)
        |  CROSS JOIN (SELECT count(*) AS event_cnt FROM events)""".stripMargin),

    // partial aggregation + unionByName + final re-aggregation ≡ one agg
    // (the reference's per-day concat+sum, report_engine.py:119-131)
    QueryDef("union_partial_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val lo = li.filter(col("l_linenumber") <= 3)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("sum_qty"))
      val hi = li.filter(col("l_linenumber") > 3)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("sum_qty"))
      lo.unionByName(hi)
        .groupBy("l_returnflag").agg(sum("sum_qty").as("sum_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, sum(sum_qty) AS sum_qty FROM (
        |  SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem
        |  WHERE l_linenumber <= 3 GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem
        |  WHERE l_linenumber > 3 GROUP BY l_returnflag
        |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ORDER BY + LIMIT (top-k with deterministic tiebreak)
    QueryDef("sort_limit", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // pivot status→count (report_engine.py:257-261 dict pivot)
    QueryDef("pivot_status", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // dd-MM-yyyy row-date parse + inclusive range filter
    // (report_engine.py:104-107)
    QueryDef("date_range_filter", (s, dir) =>
      events(s, dir)
        .withColumn("d",
          to_date(date_format(col("ts"), "dd-MM-yyyy"), "dd-MM-yyyy"))
        .filter(col("d").between(lit("2024-01-08"), lit("2024-01-21")))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE CAST(strptime(strftime(ts, '%d-%m-%Y'), '%d-%m-%Y') AS DATE)
        |      BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // fact⋈dimension equi-join + aggregate (SURVEY §2.3 generalization)
    QueryDef("join_equi", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("cnt"),
          sum(money("o_totalprice")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Bitmap-index SET ALGEBRA — bitmap_distinct's binary sibling and
    // hll_set_ops' EXACT twin: the viewer and purchaser user sets
    // materialize as 62-bit word bitmaps (one bit_or per side per
    // word), then AND/& and OR/| on aligned words give |V∩P| and |V∪P|
    // as exact popcount sums — the bitmap-index reconciliation every
    // segment-overlap question (audience intersection, suppression
    // lists) runs. Mergeable by construction: word maps OR across
    // shards/days without rescanning raw keys. countDistinct twins
    // ride along as the in-plan witness; the MATCH proves the bitmap
    // algebra equals exact set algebra.
    QueryDef("bitmap_intersect", (s, dir) => {
      val ev = events(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type"),
          expr("CAST(user_id DIV 62 AS BIGINT)").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
            .as("m"),
          col("user_id"))
      val words = ev.groupBy("w").agg(
          bit_or(when(col("event_type") === "view", col("m"))
            .otherwise(0L)).as("vbm"),
          bit_or(when(col("event_type") === "purchase", col("m"))
            .otherwise(0L)).as("pbm"))
      val bm = words.agg(
        sum(bit_count(col("vbm").bitwiseAND(col("pbm")))).cast("long")
          .as("intersect_bitmap"),
        sum(bit_count(col("vbm").bitwiseOR(col("pbm")))).cast("long")
          .as("union_bitmap"))
      val exact = events(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id").agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("v"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("p"))
        .agg(sum(when(col("v") === 1 && col("p") === 1, 1L)
            .otherwise(0L)).as("intersect_exact"),
          count(lit(1)).as("union_exact"))
      bm.crossJoin(broadcast(exact))
        .select(col("intersect_bitmap"), col("union_bitmap"),
          col("intersect_exact"), col("union_exact"))
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(user_id // 62 AS BIGINT) AS w,
        |    CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT) AS m,
        |    user_id
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |words AS (SELECT w,
        |    bit_or(CASE WHEN event_type = 'view' THEN m ELSE 0 END)
        |      AS vbm,
        |    bit_or(CASE WHEN event_type = 'purchase' THEN m ELSE 0 END)
        |      AS pbm
        |  FROM ev GROUP BY 1),
        |bm AS (SELECT
        |    CAST(sum(bit_count(vbm & pbm)) AS BIGINT)
        |      AS intersect_bitmap,
        |    CAST(sum(bit_count(vbm | pbm)) AS BIGINT) AS union_bitmap
        |  FROM words),
        |ex AS (SELECT
        |    CAST(sum(CASE WHEN v = 1 AND p = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS intersect_exact,
        |    CAST(count(*) AS BIGINT) AS union_exact
        |  FROM (SELECT user_id,
        |      max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        AS p
        |    FROM events WHERE event_type IN ('view', 'purchase')
        |    GROUP BY 1))
        |SELECT intersect_bitmap, union_bitmap, intersect_exact,
        |  union_exact
        |FROM bm CROSS JOIN ex""".stripMargin),

    // Interval-overlap (temporal) join — the shape every
    // validity-window reconciliation runs: shipment transit intervals
    // [ship, ship+transit] of the SAME (supplier, part) that overlap
    // in time. The equi-key IS the bucket: lineitem-per-(s,p) is a
    // scale-invariant ~7 rows (TPC-H grows parts with volume), so the
    // self-join is ONE (s,p)-keyed shuffle with per-group pair
    // enumeration that never goes quadratic in the corpus — the
    // bucketed-not-all-pairs discipline without a synthetic bucket.
    // Transit is deterministic (5 + quantity % 25 days, integral
    // doubles → exact); pair identity is a strict lexicographic tuple
    // (both engines compare rows the same way), so duplicate-keyed
    // fixture rows can't double-count. Readout: exact-integer
    // histogram of overlap length.
    QueryDef("interval_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").as("sk"), col("l_partkey").as("pk"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        to_date(col("l_shipdate")).as("sd"),
        (lit(5L) + pmod(col("l_quantity").cast("long"), lit(25L)))
          .cast("int").as("transit"))
        .withColumn("ed", date_add(col("sd"), col("transit")))
      val a = li.select(col("sk"), col("pk"), col("ok").as("oka"),
        col("ln").as("lna"), col("sd").as("sda"), col("ed").as("eda"))
      val b = li.select(col("sk"), col("pk"), col("ok").as("okb"),
        col("ln").as("lnb"), col("sd").as("sdb"), col("ed").as("edb"))
      a.join(b, Seq("sk", "pk"))
        .filter(struct(col("oka"), col("lna"), col("sda"), col("eda")) <
          struct(col("okb"), col("lnb"), col("sdb"), col("edb")))
        .filter(col("sda") <= col("edb") && col("sdb") <= col("eda"))
        .select((datediff(least(col("eda"), col("edb")),
          greatest(col("sda"), col("sdb"))) + 1).cast("long")
          .as("overlap_days"))
        .groupBy("overlap_days")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("overlap_days")
    },
      """WITH li AS (SELECT l_suppkey AS sk, l_partkey AS pk,
        |    l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(l_shipdate AS DATE) AS sd,
        |    CAST(l_shipdate AS DATE)
        |      + CAST(5 + CAST(l_quantity AS BIGINT) % 25 AS INT) AS ed
        |  FROM lineitem)
        |SELECT CAST(least(a.ed, b.ed) - greatest(a.sd, b.sd) + 1
        |    AS BIGINT) AS overlap_days,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM li a JOIN li b ON a.sk = b.sk AND a.pk = b.pk
        |  AND (a.ok, a.ln, a.sd, a.ed) < (b.ok, b.ln, b.sd, b.ed)
        |  AND a.sd <= b.ed AND b.sd <= a.ed
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL front-end: the same engine through spark.sql text (the
    // reference's consumers wrote SQL strings; both surfaces must agree)
    QueryDef("sql_topsegments", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_mktsegment, count(*) AS cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          |WHERE o_orderstatus <> 'P'
          |GROUP BY c_mktsegment
          |ORDER BY revenue DESC, c_mktsegment
          |LIMIT 3""".stripMargin)
    },
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY c_mktsegment
        |ORDER BY revenue DESC, c_mktsegment
        |LIMIT 3""".stripMargin),

    // Correlated LATERAL join — per-nation top-2 customers by balance
    // spelled as a lateral subquery with ORDER BY/LIMIT, exercising
    // the planner's subquery decorrelation (it rewrites to the same
    // ranked-window shape topk_per_group declares directly; two
    // spellings, one physical family). Name tiebreak keeps the top-2
    // deterministic under balance ties.
    QueryDef("join_lateral", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_lat_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_lat_v")
      s.sql(
        """SELECT n_name, c.c_name, CAST(c.c_acctbal AS DOUBLE) AS bal
          |FROM nation_lat_v n, LATERAL (
          |  SELECT c_name, c_acctbal FROM customer_lat_v
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
          |ORDER BY n_name, bal DESC, c_name""".stripMargin)
    },
      """SELECT n_name, c.c_name, CAST(c.c_acctbal AS DOUBLE) AS bal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n_name, bal DESC, c_name""".stripMargin),

    // WITH RECURSIVE reachability over the observed event-type
    // transition graph — declarative recursion in pure SQL (a Spark 4
    // surface), the planner-managed alternative to the driver-side
    // DataFrame loops bfs_levels/connected_components run. Edges are
    // the distinct consecutive-type transitions per user (one window
    // pass); recursion walks from 'signup' with a 4-hop bound as cycle
    // protection, so the working set stays bounded on a cyclic graph.
    // min_hops and the bounded visit count are exact integers on both
    // engines.
    QueryDef("recursive_cte", (s, dir) => {
      // the edge list materializes ONCE before the recursion (r17): the
      // planner's loop execution re-evaluates every CTE the recursive
      // member references on EACH iteration, so the window+distinct
      // edge derivation ran per hop (profiled at sf0.1: 46 jobs for
      // 1.9 s of task time — iteration-replanning overhead, not
      // compute). A checkpointed edge view makes each iteration's scan
      // a materialized-RDD read; the recursion itself stays declarative
      // SQL and computes the identical reachability set.
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
        .select(col("prev"), col("event_type").as("curr"))
        .distinct()
        .localCheckpoint()
        .createOrReplaceTempView("edges_rcte_v")
      s.sql(
        """WITH RECURSIVE
          |reach(node, hops) AS (
          |  SELECT 'signup', 0
          |  UNION ALL
          |  SELECT e.curr, r.hops + 1
          |  FROM reach r JOIN edges_rcte_v e ON e.prev = r.node
          |  WHERE r.hops < 4)
          |SELECT node, CAST(min(hops) AS BIGINT) AS min_hops,
          |  CAST(count(*) AS BIGINT) AS visits
          |FROM reach GROUP BY node ORDER BY node""".stripMargin)
    },
      """WITH RECURSIVE
        |edges AS (
        |  SELECT DISTINCT prev, event_type AS curr FROM (
        |    SELECT lag(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |      event_type
        |    FROM events) x
        |  WHERE prev IS NOT NULL AND prev <> event_type),
        |reach(node, hops) AS (
        |  SELECT 'signup', 0
        |  UNION ALL
        |  SELECT e.curr, r.hops + 1
        |  FROM reach r JOIN edges e ON e.prev = r.node
        |  WHERE r.hops < 4)
        |SELECT node, CAST(min(hops) AS BIGINT) AS min_hops,
        |  CAST(count(*) AS BIGINT) AS visits
        |FROM reach GROUP BY node ORDER BY node""".stripMargin),

    // hot-key-safe two-phase aggregation (graft.ops.Skew): results must
    // equal the plain one-phase groupBy — the oracle checks exactly that.
    // DECIMAL inside so the two-phase sum is order-independent.
    QueryDef("salted_sum", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), money("value").as("value"))
      graft.ops.Skew.saltedSum(ev, "event_type", "value")
        .select(col("event_type"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type")
    },
      // the salted two-phase path must equal the plain one-phase aggregate
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // semi-structured column: JSON path extraction + typed aggregation
    // (training pipelines carry metadata as JSON strings at 100 TB; the
    // extraction must be a codegen'd row function, never a driver parse)
    QueryDef("json_extract_agg", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("k_sum"), count(col("k")).as("k_cnt"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(json_extract_string(props, '$.k')) AS k_cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // semi-structured column, VARIANT path: the same metadata column
    // parsed ONCE into Spark 4's binary VARIANT encoding and then
    // field-extracted with variant_get. At 100 TB this beats repeated
    // get_json_object string re-parses: parse_json runs once per row
    // and every downstream extraction is a typed offset lookup into the
    // binary value, not another JSON tokenize. try_variant_get returns
    // NULL (not an error) on a missing/mistyped path — mirrored by the
    // oracle's NULL-propagating json_extract_string → CAST chain.
    QueryDef("variant_extract", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          parse_json(col("props")).as("v"))
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("k_cnt"),
          sum("k").as("k_sum"),
          min("k").as("k_min"),
          max("k").as("k_max"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  count(json_extract_string(props, '$.k')) AS k_cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // windowed analytics: 7-day moving sum + day-over-day delta over
    // daily event counts (one shuffle for the agg, one for the window —
    // both partitioned by the same key family)
    QueryDef("window_moving", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.select(
        col("day"), col("event_type"), col("cnt"),
        sum("cnt").over(w.rowsBetween(-6, 0)).as("mov7"),
        (col("cnt") - coalesce(lag("cnt", 1).over(w), lit(0L))).as("delta"))
        .orderBy("event_type", "day")
    },
      // DuckDB reads the nanos column as a plain TIMESTAMP (nanosAsLong is
      // a Spark-side setting), so day is a direct date cast
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov7,
        |  cnt - coalesce(lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day), 0)
        |    AS delta
        |FROM daily ORDER BY event_type, day""".stripMargin),

    // set operations: customers with urgent orders vs customers with
    // F-status orders — intersection and difference, deduplicated
    QueryDef("set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val fstatus = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      urgent.intersect(fstatus).agg(count(lit(1)).as("both_cnt"))
        .crossJoin(urgent.except(fstatus).agg(count(lit(1)).as("only_urgent_cnt")))
    },
      """SELECT * FROM
        |(SELECT count(*) AS both_cnt FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |CROSS JOIN
        |(SELECT count(*) AS only_urgent_cnt FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))""".stripMargin),

    // full CUBE over (status, priority): every grouping-set combination
    QueryDef("cube_count", (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // grouping sets: ROLLUP totals by (status, priority), (status), ()
    QueryDef("rollup_count", (s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // existence semi-join: customers that placed at least one urgent order
    QueryDef("join_semi", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // The custom DataSource V2 connector under the value gate: a
    // deterministic sequence table read THROUGH
    // [[graft.sources.SequenceSource]] with an id-range predicate the
    // source itself consumes — slices outside the range are never
    // planned, surviving slices clamp their bounds (PlanSpec asserts
    // pushed filters + pruned partition count). The oracle rebuilds
    // the same sequence from DuckDB's range() without ever seeing the
    // connector — only correct pushdown-plus-residual semantics can
    // match it.
    QueryDef("synthetic_source", (s, dir) => {
      s.read.format("graft.sources.SequenceSource")
        .option("start", "0").option("end", "1000000")
        .option("slices", "32")
        .load()
        .filter(col("id") >= 250000L && col("id") < 750000L)
        .groupBy(pmod(col("bucket"), lit(10)).as("b10"))
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("b10")
    },
      // the oracle never sees the connector: same sequence from range()
      """SELECT CAST((i % 97) % 10 AS INT) AS b10,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(i) AS BIGINT) AS id_sum,
        |  min(i) AS min_id, max(i) AS max_id
        |FROM range(250000, 750000) t(i)
        |GROUP BY 1 ORDER BY b10""".stripMargin),

    // NOT IN versus a nullable subquery — the null-aware anti-join
    // semantics trap: one NULL in the IN-list makes `x NOT IN (...)`
    // unknowable for every row (FALSE-or-NULL), so the second count is
    // 0 BY ANSI SEMANTICS, not by data. Spark plans the null-aware
    // anti join; engines that compile NOT IN to a plain anti join get
    // this wrong, which is exactly what the oracle checks.
    QueryDef("not_in_nulls", (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_nin_v")
      s.sql(
        """SELECT
          |  (SELECT count(*) FROM docs_nin_v
          |   WHERE lang NOT IN (SELECT DISTINCT lang FROM docs_nin_v
          |     WHERE source = 'src0' AND lang IN ('en', 'de')))
          |    AS n_clean,
          |  (SELECT count(*) FROM docs_nin_v
          |   WHERE lang NOT IN (SELECT DISTINCT lang FROM docs_nin_v
          |     WHERE source = 'src0' AND lang IN ('en', 'de')
          |     UNION ALL SELECT CAST(NULL AS STRING)))
          |    AS n_with_null""".stripMargin)
    },
      """SELECT
        |  (SELECT count(*) FROM documents
        |   WHERE lang NOT IN (SELECT DISTINCT lang FROM documents
        |     WHERE source = 'src0' AND lang IN ('en', 'de')))
        |    AS n_clean,
        |  (SELECT count(*) FROM documents
        |   WHERE lang NOT IN (SELECT DISTINCT lang FROM documents
        |     WHERE source = 'src0' AND lang IN ('en', 'de')
        |     UNION ALL SELECT NULL))
        |    AS n_with_null""".stripMargin),

    // Error-safe arithmetic gate (the try_* family): try_divide by
    // zero, try_add past BIGINT max, and try_cast of a non-numeric
    // string must each degrade to NULL — per ROW, not per job. This is
    // the ingestion contract a 100 TB batch needs: one pathological
    // row costs one NULL, never a dead stage. The pathological rows
    // are data-driven and RARE by construction (≈0.1% via coprime
    // moduli) — the regime the contract exists for. That rarity is
    // also the plan pass: Spark evaluates TRY mode with a per-row
    // catch of the ANSI error, so a 100%-pathological column measures
    // JVM exception throughput, not a plan (the round-11 shape threw
    // 3 exceptions per row and was the most expensive trivial
    // aggregate in the suite); the try semantics are row-independent,
    // so the rare case pins them identically. The control column
    // proves try_* is not simply NULL-happy: it must equal n exactly.
    QueryDef("try_arithmetic", (s, dir) =>
      events(s, dir).agg(
        count(lit(1)).as("n"),
        // divisor vanishes exactly on the event_id % 997 == 0 rows
        count(expr("try_divide(event_id, event_id % 997)"))
          .as("div0_nonnull"),
        // headroom of 997 above the addend's usual range: only the
        // mod-1000 residues 998 and 999 push past BIGINT max
        count(expr("try_add(9223372036854774810L, event_id % 1000)"))
          .as("overflow_nonnull"),
        // the string is numeric except on the mod-1009 rows, where the
        // raw event_type (never numeric) lands in the cast
        count(expr("try_cast(CASE WHEN event_id % 1009 = 0" +
          " THEN event_type ELSE CAST(event_id AS STRING) END" +
          " AS BIGINT)")).as("badcast_nonnull"),
        count(expr("try_add(event_id, 1)")).as("control_nonnull")),
      // the closed-form mirror of the rare-pathological construction:
      // DuckDB counts the residue classes directly (its own TRY_CAST
      // checks the mixed-string branch for real)
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE event_id % 997 <> 0) AS BIGINT)
        |    AS div0_nonnull,
        |  CAST(count(*) FILTER (WHERE event_id % 1000 <= 997) AS BIGINT)
        |    AS overflow_nonnull,
        |  CAST(count(TRY_CAST(CASE WHEN event_id % 1009 = 0
        |      THEN event_type ELSE CAST(event_id AS VARCHAR) END
        |      AS BIGINT)) AS BIGINT) AS badcast_nonnull,
        |  CAST(count(event_id) AS BIGINT) AS control_nonnull
        |FROM events""".stripMargin),

    // Dataset.unpivot — the NATIVE melt operator (an Unpivot plan
    // node → Expand, not a stack() projection): three lineitem
    // measures become (metric, v) rows in one scan, then a per-(flag,
    // metric) rollup. The id column stays typed; value columns must
    // share a type, so the integral quantity casts to double up
    // front. Micros-quantized sums keep the cross-engine compare
    // exact.
    QueryDef("unpivot_metrics", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")), "metric", "v")
        .groupBy("l_returnflag", "metric")
        .agg(count(lit(1)).as("n"),
          sum(bround(col("v") * lit(1000000.0)).cast("long"))
            .as("sum_micros"),
          bround(min("v"), 6).as("lo"),
          bround(max("v"), 6).as("hi"))
        .orderBy("l_returnflag", "metric"),
      // TRY_CAST is DuckDB-native; the div0/overflow legs restate the
      // same closed-form row predicates (divisor is literal 0; the
      // addend is forced > 0 so MAX + addend always leaves BIGINT)
      """WITH u AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric,
        |    CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount',
        |    CAST(l_discount AS DOUBLE) FROM lineitem)
        |SELECT l_returnflag, metric, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round_even(v * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS sum_micros,
        |  CAST(round_even(min(v), 6) AS DOUBLE) AS lo,
        |  CAST(round_even(max(v), 6) AS DOUBLE) AS hi
        |FROM u GROUP BY 1, 2 ORDER BY l_returnflag, metric""".stripMargin),

    // Spark 4 VARIANT — the semi-structured 100 TB staple: rows
    // round-trip through an actual JSON document (to_json → parse_json
    // → binary variant), fields come back out with typed variant_get
    // paths (nested object, top-level scalars, and a MISSING path that
    // must yield null, counted to prove it). Double values survive
    // bit-exactly (Double.toString shortest-repr round-trip), so the
    // micros quantization matches the oracle computed straight off the
    // source columns — the gate checks extraction fidelity, not JSON
    // formatting.
    QueryDef("variant_json", (s, dir) =>
      events(s, dir)
        .select(parse_json(to_json(struct(
          col("event_id").as("id"),
          col("event_type").as("type"),
          struct(col("user_id").as("id")).as("user"),
          col("value").as("amount")))).as("v"))
        .select(
          expr("variant_get(v, '$.type', 'string')").as("event_type"),
          expr("variant_get(v, '$.user.id', 'bigint')").as("uid"),
          expr("variant_get(v, '$.amount', 'double')").as("amount"),
          expr("variant_get(v, '$.missing.path', 'string')").as("nope"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct("uid").as("n_users"),
          sum(bround(col("amount") * lit(1000000.0)).cast("long"))
            .as("amount_micros"),
          count("nope").as("missing_nonnull"))
        .orderBy("event_type"),
      // straight off the source columns: the variant path is pure
      // extraction fidelity, so the oracle never touches JSON
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS amount_micros,
        |  CAST(count(*) FILTER (WHERE false) AS BIGINT)
        |    AS missing_nonnull
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Several COUNT(DISTINCT) over DIFFERENT keys in ONE aggregate —
    // the plan Catalyst rewrites through an Expand (one input row fans
    // to one row per distinct group), so all three distinct sets and
    // the plain count resolve in a single scan + one shuffle instead
    // of three self-reads. The Expand is asserted in PlanSpec; at
    // 100 TB "scan once, expand 4×" beats "scan four times" precisely
    // because the scan dominates.
    QueryDef("multi_distinct", (s, dir) =>
      events(s, dir).agg(
        countDistinct("user_id").as("n_users"),
        countDistinct("event_type").as("n_types"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_rows")),
      """SELECT count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM events""".stripMargin),

    // NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM): the "unknown
    // matches unknown" dimension-lookup semantics plain equality
    // silently drops. Docs whose lang is masked to NULL (zh plays the
    // un-identified slice) still land on the dim's NULL→'unknown' row.
    // EqualNullSafe is a legal HASH join key in Spark, so the tiny dim
    // broadcasts and the fact side never shuffles for the join — the
    // null-safe lookup costs the same plan as the plain one.
    QueryDef("join_nullsafe", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .withColumn("lang_k",
          when(col("lang") === "zh", lit(null: String))
            .otherwise(col("lang")))
      val dim = Seq(("en", "germanic"), ("de", "germanic"),
        ("es", "romance"), ("fr", "romance"),
        (null.asInstanceOf[String], "unknown"))
        .toDF("lang_k", "family")
      d.join(broadcast(dim), d("lang_k") <=> dim("lang_k"))
        .groupBy("family")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"))
        .orderBy("family")
    },
      """WITH d AS (SELECT CASE WHEN lang = 'zh' THEN NULL ELSE lang END
        |    AS lang_k, source FROM documents),
        |dim(lang_k, family) AS (VALUES
        |  ('en', 'germanic'), ('de', 'germanic'),
        |  ('es', 'romance'), ('fr', 'romance'), (NULL, 'unknown'))
        |SELECT family, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM d JOIN dim ON d.lang_k IS NOT DISTINCT FROM dim.lang_k
        |GROUP BY 1 ORDER BY family""".stripMargin),

    // FORWARD as-of join ([[graft.ops.AsofJoin.asofJoinForward]]): each
    // view picks the user's NEXT purchase at or after it — time-to-next
    // conversion. The oracle is DuckDB's native ASOF with the <=
    // inequality, so the descending-window composition is checked
    // against a reference implementation of the operator itself.
    QueryDef("asof_forward", (s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.AsofJoin.asofJoinForward(
          views, purchases, "user_id", "ts", "ts", Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("asof_ts")).as("purchase_us"),
          col("asof_value").as("purchase_value"))
        .orderBy("event_id")
    },
      // DuckDB has NATIVE ASOF JOIN — the ideal oracle for our composed
      // one. Native ASOF picks an ARBITRARY right row when several share
      // (user_id, ts), so the right side first dedupes to the max-value
      // row per (user_id, ts) — the exact tie rule AsofJoin pins with its
      // payload-struct sort key (greatest (ts, value) tuple, nulls
      // smallest) — making both engines deterministic on any fixture.
      """SELECT a.event_id, a.user_id,
        |  epoch_us(b.ts) AS purchase_us, b.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY value DESC NULLS LAST) = 1) b
        |  ON a.user_id = b.user_id AND a.ts <= b.ts
        |ORDER BY a.event_id""".stripMargin),

    // as-of join (an operator Spark lacks natively — graft.ops.AsofJoin
    // composes it as tagged-union + one window pass): each purchase
    // event picks the user's latest view at or before it. Timestamps
    // leave the result as epoch micros (raw timestamp outputs break the
    // ns/µs parquet parity with the oracle).
    QueryDef("asof_join", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.AsofJoin.asofJoin(
          purchases, views, "user_id", "ts", "ts", Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("asof_ts")).as("view_us"),
          col("asof_value").as("view_value"))
        .orderBy("event_id")
    },
      """SELECT a.event_id, a.user_id,
        |  epoch_us(b.ts) AS view_us, b.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'view'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY value DESC NULLS LAST) = 1) b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY a.event_id""".stripMargin),

    // range join (graft.ops.RangeJoin — time-binned candidate equi-join,
    // never cartesian): events within 60s of each other, counted by the
    // ordered type pair
    QueryDef("range_join_window", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      graft.ops.RangeJoin
        .withinWindowPairs(ev, "event_id", "us", 60000000L, Seq("event_type"))
        .groupBy(col("a_event_type").as("type_a"), col("b_event_type").as("type_b"))
        .agg(count(lit(1)).as("pair_cnt"))
        .orderBy("type_a", "type_b")
    },
      // DuckDB's inequality join is the exact-definition oracle for the
      // binned range join
      """SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS pair_cnt
        |FROM events a JOIN events b
        |  ON a.event_id <> b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Count-Min sketch (graft.functions.CountMinSketchAgg — typed
    // Aggregator with a depth×width counter buffer): one sketch of the
    // event_type stream, probed IN-PLAN with the same portable
    // Kirsch–Mitzenmacher md5 pair the aggregator uses (ONE digest per
    // key, row i's cell = (h1 + i·h2) mod width); estimates carry the
    // true counts alongside (CMS guarantees est >= true)
    QueryDef("cms_heavy_hitters", (s, dir) => {
      import s.implicits._
      val depth = 4
      val width = 64
      val cms = new graft.functions.CountMinSketchAgg(depth, width)
      val ev = events(s, dir)
      val sketch = ev.select(col("event_type")).as[String]
        .select(cms.toColumn.name("sketch"))
      val (h1, h2) =
        graft.functions.CountMinSketchAgg.hashPairCols(col("event_type"))
      val est = (0 until depth).map { i =>
        element_at(col("sketch"),
          (lit(i * width) + pmod(h1 + lit(i.toLong) * h2, lit(width.toLong)) +
            1).cast("int"))
      }.reduce(least(_, _))
      ev.groupBy("event_type").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(sketch))
        .select(col("event_type"), est.as("est_cnt"), col("true_cnt"))
        .orderBy("event_type")
    },
      // the oracle rebuilds the same sketch relationally: counters =
      // counts per (row, cell) under the shared Kirsch–Mitzenmacher md5
      // pair (h1 = hex chars 1-7, h2 = chars 8-14, cell_i = (h1+i·h2)%w)
      """WITH h AS (
        |  SELECT event_type, i,
        |    (CAST('0x' || substr(md5(event_type), 1, 7) AS BIGINT)
        |     + i * (CAST('0x' || substr(md5(event_type), 8, 7) AS BIGINT) | 1)) % 64
        |      AS cell
        |  FROM events, range(0, 4) t(i)),
        |counters AS (SELECT i, cell, count(*) AS c FROM h GROUP BY i, cell),
        |keys AS (SELECT event_type, count(*) AS true_cnt FROM events
        |         GROUP BY event_type),
        |kh AS (
        |  SELECT k.event_type, t.i,
        |    (CAST('0x' || substr(md5(k.event_type), 1, 7) AS BIGINT)
        |     + t.i * (CAST('0x' || substr(md5(k.event_type), 8, 7) AS BIGINT) | 1)) % 64
        |      AS cell
        |  FROM keys k, range(0, 4) t(i)),
        |est AS (
        |  SELECT kh.event_type, min(c.c) AS est_cnt
        |  FROM kh JOIN counters c ON kh.i = c.i AND kh.cell = c.cell
        |  GROUP BY kh.event_type)
        |SELECT e.event_type, CAST(e.est_cnt AS BIGINT) AS est_cnt,
        |  CAST(k.true_cnt AS BIGINT) AS true_cnt
        |FROM est e JOIN keys k ON e.event_type = k.event_type
        |ORDER BY e.event_type""".stripMargin),

    // Misra–Gries heavy-hitter summary (graft.functions.MisraGriesAgg
    // — mergeable-summaries merge per Agarwal et al., PODS 2012): the
    // DETERMINISTIC-guarantee member of the sketch family (CMS
    // overestimates probabilistically; MG brackets truth two-sidedly:
    // true − n/(cap+1) ≤ counter ≤ true, and every key above that
    // threshold is present). Run here in its exact regime — capacity 16
    // over the ~5-value event_type column, so no eviction fires,
    // counters equal plain counts, and the gate is order-free; the
    // eviction/merge path (where counter values are arrival-order-
    // dependent, as in any MG) is property-tested in SketchSpec
    // against a brute-force reference on random orders. At 100 TB the
    // 16-entry map per partition replaces the unbounded key shuffle.
    // Canonical id since r14; the historical id `space_saving_topk` (a
    // misnomer — the algorithm is Misra–Gries's decrement-all
    // UNDERestimating counters, not Space-Saving's overwrite-min
    // OVERestimating ones; Metwally et al., ICDT 2005) stays
    // registered as an alias below for artifact continuity.
    QueryDef("misra_gries_topk", (s, dir) => {
      import s.implicits._
      val mg = new graft.functions.MisraGriesAgg(16)
      val ev = events(s, dir)
      val summary = ev.select(col("event_type")).as[String]
        .select(mg.toColumn.name("summary"))
      ev.groupBy("event_type").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(summary))
        .select(col("event_type"),
          element_at(col("summary"), col("event_type")).as("est_cnt"),
          col("true_cnt"),
          size(col("summary")).as("summary_size"))
        .orderBy("event_type")
    },
      // exact regime (capacity ≥ distinct): MG counters are plain
      // counts and the summary holds every key — the oracle is the
      // group-by it degenerates to
      """WITH keys AS (SELECT event_type, count(*) AS true_cnt
        |             FROM events GROUP BY event_type),
        |n AS (SELECT count(*) AS sz FROM keys)
        |SELECT k.event_type, CAST(k.true_cnt AS BIGINT) AS est_cnt,
        |  CAST(k.true_cnt AS BIGINT) AS true_cnt,
        |  CAST(n.sz AS INT) AS summary_size
        |FROM keys k, n ORDER BY k.event_type""".stripMargin),

    // event-time tumbling windows in BATCH (the same window() operator
    // the streaming paths use): epoch-aligned 6-hour buckets, emitted
    // as epoch micros (raw timestamps break ns/µs parquet parity)
    QueryDef("tumbling_window", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(money("value")).cast("double").as("val_sum"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("event_type"), col("cnt"), col("val_sum"))
        .orderBy("win_start_us", "event_type"),
      // Spark's window() aligns buckets to the epoch in session-UTC; the
      // oracle replays that arithmetic on the microsecond timeline
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS win_start_us,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // HyperLogLog distinct sketch (graft.functions.HyperLogLogAgg):
    // per-group approximate count-distinct whose 64-register state is
    // built on the portable md5 family, estimated IN-PLAN, and carried
    // next to the exact countDistinct. At 100 TB this replaces the
    // global key shuffle of exact distinct with a mergeable 64-int
    // buffer per group. reg_weight/zero_regs are exact-integer
    // witnesses of the full register state (an FP-free oracle check).
    QueryDef("hll_distinct", (s, dir) => {
      val hll = udaf(new graft.functions.HyperLogLogAgg(),
        org.apache.spark.sql.Encoders.STRING)
      events(s, dir)
        .groupBy("event_type")
        .agg(
          hll(col("user_id").cast("string")).as("regs"),
          countDistinct("user_id").as("true_distinct"))
        .select(col("event_type"),
          graft.functions.HyperLogLogAgg.estimate(col("regs")).as("est_distinct"),
          col("true_distinct"),
          graft.functions.HyperLogLogAgg.regWeight(col("regs")).as("reg_weight"),
          graft.functions.HyperLogLogAgg.zeroRegs(col("regs")).as("zero_regs"))
        .orderBy("event_type")
    },
      // the oracle rebuilds the HLL registers relationally from DISTINCT
      // keys (md5 is per-key, so duplicates can't move a max), re-derives
      // the estimate with the same integer-weight arithmetic, and checks
      // the exact-integer register witnesses alongside
      """WITH keys AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type,
        |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          AS x
        |      FROM keys),
        |br AS (SELECT event_type, x % 64 AS bucket,
        |        55 - (CASE WHEN x // 64 = 0 THEN 0
        |                   ELSE length(bin(x // 64)) END) AS rho
        |       FROM h),
        |regs AS (SELECT event_type, bucket, max(rho) AS reg
        |         FROM br GROUP BY 1, 2),
        |grid AS (SELECT e.event_type, t.b AS bucket
        |         FROM (SELECT DISTINCT event_type FROM events) e,
        |              range(0, 64) t(b)),
        |full_regs AS (SELECT g.event_type, coalesce(r.reg, 0) AS reg
        |              FROM grid g LEFT JOIN regs r
        |                ON r.event_type = g.event_type AND r.bucket = g.bucket),
        |agg AS (SELECT event_type,
        |          CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS reg_weight,
        |          CAST(count(*) FILTER (WHERE reg = 0) AS INT) AS zero_regs
        |        FROM full_regs GROUP BY event_type),
        |est AS (SELECT event_type, reg_weight, zero_regs,
        |          (0.709 * 4096) * pow(2.0, 55) / CAST(reg_weight AS DOUBLE) AS raw
        |        FROM agg),
        |tru AS (SELECT event_type, count(DISTINCT user_id) AS true_distinct
        |        FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  round(CASE WHEN e.raw <= 160.0 AND e.zero_regs > 0
        |             THEN 64.0 * ln(64.0 / e.zero_regs) ELSE e.raw END, 4)
        |    AS est_distinct,
        |  CAST(t.true_distinct AS BIGINT) AS true_distinct,
        |  e.reg_weight, e.zero_regs
        |FROM est e JOIN tru t USING (event_type)
        |ORDER BY e.event_type""".stripMargin),

    // HLL sketch ROLLUP — the property the sketch exists for at 100 TB:
    // per-(day, event_type) register arrays are built once, then merged
    // UP a level entirely in-plan (posexplode → max per register slot →
    // re-assemble), so a month-over-event_type distinct never re-scans
    // or re-shuffles the raw key column. sum_day_distinct next to
    // true_distinct witnesses the dedup the merge performed; the merged
    // estimate is register-identical to a one-shot sketch over all days
    // (max is associative), which is exactly what the oracle rebuilds.
    QueryDef("hll_rollup", (s, dir) => {
      val hll = udaf(new graft.functions.HyperLogLogAgg(),
        org.apache.spark.sql.Encoders.STRING)
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll(col("user_id").cast("string")).as("regs"),
          countDistinct("user_id").as("day_distinct"))
        .localCheckpoint()
      val sums = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("day_distinct").as("sum_day_distinct"))
      val merged = daily
        .select(col("event_type"), posexplode(col("regs")).as(Seq("pos", "reg")))
        .groupBy("event_type", "pos").agg(max("reg").as("reg"))
        .groupBy("event_type")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("reg")))),
          x => x.getField("reg")).as("regs"))
      val exact = events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      merged.join(sums, "event_type").join(exact, "event_type")
        .select(col("event_type"), col("n_days"), col("sum_day_distinct"),
          graft.functions.HyperLogLogAgg.estimate(col("regs")).as("est_distinct"),
          col("true_distinct"),
          graft.functions.HyperLogLogAgg.regWeight(col("regs")).as("reg_weight"),
          graft.functions.HyperLogLogAgg.zeroRegs(col("regs")).as("zero_regs"))
        .orderBy("event_type")
    },
      // rollup oracle: register max over days ≡ register max over all
      // distinct keys (max is associative), so the registers rebuild from
      // DISTINCT (event_type, user_id) exactly as in hll_distinct; the
      // day-level witnesses (n_days, Σ per-day distinct) aggregate the
      // calendar level the Spark side rolls up from
      """WITH keys AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type,
        |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          AS x
        |      FROM keys),
        |br AS (SELECT event_type, x % 64 AS bucket,
        |        55 - (CASE WHEN x // 64 = 0 THEN 0
        |                   ELSE length(bin(x // 64)) END) AS rho
        |       FROM h),
        |regs AS (SELECT event_type, bucket, max(rho) AS reg
        |         FROM br GROUP BY 1, 2),
        |grid AS (SELECT e.event_type, t.b AS bucket
        |         FROM (SELECT DISTINCT event_type FROM events) e,
        |              range(0, 64) t(b)),
        |full_regs AS (SELECT g.event_type, coalesce(r.reg, 0) AS reg
        |              FROM grid g LEFT JOIN regs r
        |                ON r.event_type = g.event_type AND r.bucket = g.bucket),
        |agg AS (SELECT event_type,
        |          CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS reg_weight,
        |          CAST(count(*) FILTER (WHERE reg = 0) AS INT) AS zero_regs
        |        FROM full_regs GROUP BY event_type),
        |est AS (SELECT event_type, reg_weight, zero_regs,
        |          (0.709 * 4096) * pow(2.0, 55) / CAST(reg_weight AS DOUBLE) AS raw
        |        FROM agg),
        |dd AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |         count(DISTINCT user_id) AS d
        |       FROM events GROUP BY 1, 2),
        |cal AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |          CAST(sum(d) AS BIGINT) AS sum_day_distinct
        |        FROM dd GROUP BY 1),
        |tru AS (SELECT event_type, count(DISTINCT user_id) AS true_distinct
        |        FROM events GROUP BY 1)
        |SELECT e.event_type, c.n_days, c.sum_day_distinct,
        |  round(CASE WHEN e.raw <= 160.0 AND e.zero_regs > 0
        |             THEN 64.0 * ln(64.0 / e.zero_regs) ELSE e.raw END, 4)
        |    AS est_distinct,
        |  CAST(t.true_distinct AS BIGINT) AS true_distinct,
        |  e.reg_weight, e.zero_regs
        |FROM est e JOIN cal c USING (event_type) JOIN tru t USING (event_type)
        |ORDER BY e.event_type""".stripMargin),

    // KMV theta sketch with SET ALGEBRA (graft.functions.KmvSketchAgg):
    // the k-minimum-values sketch holds the k smallest distinct 60-bit
    // md5 fingerprints — a fully DETERMINISTIC state (order-, split-,
    // and merge-tree-independent) the oracle rebuilds with one window
    // function. Its reason to exist next to HLL: INTERSECTION. The
    // union k-min list is a uniform below-θ sample of the union hash
    // space, both sketches are complete below θ (θ ≤ min(θ_a, θ_b)),
    // so |A∩B ∩ sample| / |sample| estimates Jaccard and θ scales it
    // to cardinalities. Per segment pair this merges two k-long arrays
    // (array_distinct/sort/slice — all codegen'd built-ins) instead of
    // re-shuffling the raw key column; exact witnesses (θ as a long,
    // the top-k intersection count, exact distinct/intersect counts)
    // ride along so the oracle compare is FP-free except two mirrored
    // IEEE divides. Segments = 1995's ship quarters over l_partkey —
    // the fixture's genuinely partial overlap (~1300 parts/quarter,
    // pairwise Jaccard ≈ 0.5 at sf0.01), unlike events' user sets,
    // which coincide across types. u_size < k is the exact regime
    // (sketch = whole key set, estimates collapse to true counts) —
    // covered by SketchSpec; both SFs run the estimation branch.
    QueryDef("kmv_theta_intersect", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val k = 64
      val kmv = udaf(new graft.functions.KmvSketchAgg(k), Encoders.STRING)
      val seg = t(s, dir, "lineitem")
        .filter(year(to_date(col("l_shipdate"))) === 1995)
        .select(concat(lit("q"), quarter(to_date(col("l_shipdate")))
          .cast("string")).as("seg"), col("l_partkey"))
      val sk = seg.groupBy("seg")
        .agg(kmv(col("l_partkey").cast("string")).as("sk"),
          countDistinct("l_partkey").as("nd"))
        .localCheckpoint() // one sketch build feeds both pair sides
      val a = sk.select(col("seg").as("seg_a"),
        col("sk").as("sk_a"), col("nd").as("nd_a"))
      val b = sk.select(col("seg").as("seg_b"),
        col("sk").as("sk_b"), col("nd").as("nd_b"))
      // exact intersection witness: one distinct (seg, part) table,
      // self-joined — 4 segments, the pair grid is tiny
      val ut = seg.distinct().localCheckpoint()
      val inter = ut.as("x").join(ut.as("y"),
          col("x.l_partkey") === col("y.l_partkey") &&
            col("x.seg") < col("y.seg"))
        .groupBy(col("x.seg").as("seg_a"), col("y.seg").as("seg_b"))
        .agg(count(lit(1)).as("true_inter"))
      val rawUnion = when(col("u_size") < k, col("u_size").cast("double"))
        .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60)) /
          col("theta_fp").cast("double"))
      a.join(broadcast(b), col("seg_a") < col("seg_b"))
        .join(broadcast(inter), Seq("seg_a", "seg_b"), "left")
        .withColumn("u",
          slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))),
            1, k))
        .withColumn("u_size", size(col("u")).cast("long"))
        .withColumn("theta_fp", element_at(col("u"), size(col("u"))))
        .withColumn("inter_topk",
          size(filter(array_intersect(col("sk_a"), col("sk_b")),
            x => x <= col("theta_fp"))).cast("long"))
        .select(col("seg_a"), col("seg_b"), col("u_size"),
          col("theta_fp"), col("inter_topk"),
          bround(rawUnion, 4).as("union_est"),
          bround(col("inter_topk").cast("double") /
            col("u_size").cast("double") * rawUnion, 4).as("inter_est"),
          (col("nd_a") + col("nd_b") - coalesce(col("true_inter"), lit(0L)))
            .as("true_union"),
          coalesce(col("true_inter"), lit(0L)).as("true_inter"))
        .orderBy("seg_a", "seg_b")
    },
      // the KMV state is deterministic ("k smallest distinct hashes"), so
      // the oracle rebuilds the EXACT sketch per type with one window
      // function, re-derives the union k-min per pair, and mirrors the
      // two estimate divides on the same integers
      """WITH base AS (SELECT 'q' || CAST(quarter(CAST(l_shipdate AS DATE))
        |      AS VARCHAR) AS seg, l_partkey
        |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995),
        |fp AS (SELECT DISTINCT seg,
        |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM base WHERE l_partkey IS NOT NULL),
        |rk AS (SELECT seg, h,
        |    row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
        |  FROM fp),
        |sk AS (SELECT seg, h FROM rk WHERE rn <= 64),
        |nd AS (SELECT seg, count(DISTINCT l_partkey) AS nd
        |  FROM base GROUP BY 1),
        |segs AS (SELECT DISTINCT seg FROM base),
        |pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b
        |  FROM segs a JOIN segs b ON a.seg < b.seg),
        |uall AS (SELECT p.seg_a, p.seg_b, s.h
        |  FROM pairs p JOIN sk s ON s.seg = p.seg_a OR s.seg = p.seg_b
        |  GROUP BY 1, 2, 3),
        |urk AS (SELECT seg_a, seg_b, h,
        |    row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY h) AS rn
        |  FROM uall),
        |us AS (SELECT seg_a, seg_b, CAST(count(*) AS BIGINT) AS u_size,
        |    max(h) AS theta_fp
        |  FROM urk WHERE rn <= 64 GROUP BY 1, 2),
        |itk AS (SELECT u.seg_a, u.seg_b, CAST(count(*) AS BIGINT) AS inter_topk
        |  FROM us u
        |  JOIN sk x ON x.seg = u.seg_a AND x.h <= u.theta_fp
        |  JOIN sk y ON y.seg = u.seg_b AND y.h = x.h
        |  GROUP BY 1, 2),
        |ti AS (SELECT x.seg AS seg_a, y.seg AS seg_b,
        |    CAST(count(*) AS BIGINT) AS true_inter
        |  FROM (SELECT DISTINCT seg, l_partkey FROM base) x
        |  JOIN (SELECT DISTINCT seg, l_partkey FROM base) y
        |    ON x.l_partkey = y.l_partkey AND x.seg < y.seg
        |  GROUP BY 1, 2)
        |SELECT u.seg_a, u.seg_b, u.u_size, u.theta_fp,
        |  coalesce(i.inter_topk, 0) AS inter_topk,
        |  round(CASE WHEN u.u_size < 64 THEN CAST(u.u_size AS DOUBLE)
        |    ELSE 63.0 * power(2.0, 60) / CAST(u.theta_fp AS DOUBLE) END, 4)
        |    AS union_est,
        |  round(CAST(coalesce(i.inter_topk, 0) AS DOUBLE)
        |      / CAST(u.u_size AS DOUBLE)
        |      * (CASE WHEN u.u_size < 64 THEN CAST(u.u_size AS DOUBLE)
        |         ELSE 63.0 * power(2.0, 60) / CAST(u.theta_fp AS DOUBLE) END), 4)
        |    AS inter_est,
        |  CAST(na.nd + nb.nd - coalesce(t.true_inter, 0) AS BIGINT)
        |    AS true_union,
        |  coalesce(t.true_inter, 0) AS true_inter
        |FROM us u
        |JOIN nd na ON na.seg = u.seg_a
        |JOIN nd nb ON nb.seg = u.seg_b
        |LEFT JOIN itk i ON i.seg_a = u.seg_a AND i.seg_b = u.seg_b
        |LEFT JOIN ti t ON t.seg_a = u.seg_a AND t.seg_b = u.seg_b
        |ORDER BY u.seg_a, u.seg_b""".stripMargin),

    // KMV sketch ROLLUP — the merge identity, witnessed EXACTLY (the
    // sharper sibling of hll_rollup's register equality): the k-min of
    // the union of per-quarter k-min lists IS the year's one-shot k-min
    // — if x is among the k smallest of the year, at most k−1 year
    // values are smaller, so at most k−1 in x's own quarter: x is in
    // that quarter's sketch. merge_identical pins list equality
    // relationally, so a 100 TB reader can trust that per-partition
    // sketches roll up with NO estimation penalty vs re-scanning the
    // raw keys; sum_seg_distinct alongside true_distinct witnesses the
    // cross-quarter dedup the merge performed. The in-plan merge is
    // flatten(collect_list) → distinct → sort → slice: collect_list
    // order is nondeterministic, but the normalize-then-cut makes the
    // result order-free (the same algebra KmvSketchAgg.merge runs).
    QueryDef("kmv_rollup", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val k = 64
      val kmv = udaf(new graft.functions.KmvSketchAgg(k), Encoders.STRING)
      val seg = t(s, dir, "lineitem")
        .filter(year(to_date(col("l_shipdate"))) === 1995)
        .select(concat(lit("q"), quarter(to_date(col("l_shipdate")))
          .cast("string")).as("seg"), col("l_partkey"))
        .localCheckpoint() // one scan feeds quarter sketches + one-shot
      val quarters = seg.groupBy("seg")
        .agg(kmv(col("l_partkey").cast("string")).as("sk"),
          countDistinct("l_partkey").as("nd"))
      val merged = quarters.agg(count(lit(1)).as("n_segs"),
        sum("nd").as("sum_seg_distinct"),
        slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))),
          1, k).as("mk"))
      val oneshot = seg.agg(
        kmv(col("l_partkey").cast("string")).as("ok"),
        countDistinct("l_partkey").as("true_distinct"))
      merged.crossJoin(broadcast(oneshot)) // 1 row × 1 row
        .withColumn("u_size", size(col("mk")).cast("long"))
        .withColumn("theta_fp", element_at(col("mk"), size(col("mk"))))
        .select(col("n_segs"), col("sum_seg_distinct"), col("u_size"),
          col("theta_fp"),
          bround(when(col("u_size") < k, col("u_size").cast("double"))
            .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60)) /
              col("theta_fp").cast("double")), 4).as("est_distinct"),
          col("true_distinct"),
          (col("mk") === col("ok")).cast("int").as("merge_identical"))
    },
      // the rollup identity is RELATIONAL here: merged-quarter k-min and
      // one-shot year k-min are both rebuilt and compared as lists
      """WITH base AS (SELECT 'q' || CAST(quarter(CAST(l_shipdate AS DATE))
        |      AS VARCHAR) AS seg, l_partkey
        |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995),
        |fp AS (SELECT DISTINCT seg,
        |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM base WHERE l_partkey IS NOT NULL),
        |rk AS (SELECT seg, h,
        |    row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
        |  FROM fp),
        |sk AS (SELECT seg, h FROM rk WHERE rn <= 64),
        |nd AS (SELECT CAST(count(DISTINCT seg) AS BIGINT) AS n_segs,
        |    CAST(sum(d) AS BIGINT) AS sum_seg_distinct
        |  FROM (SELECT seg, count(DISTINCT l_partkey) AS d
        |        FROM base GROUP BY 1)
        |      t(seg, d)),
        |mk AS (SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT h FROM sk))
        |  WHERE rn <= 64),
        |yk AS (SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT h FROM fp))
        |  WHERE rn <= 64),
        |ms AS (SELECT CAST(count(*) AS BIGINT) AS u_size, max(h) AS theta_fp
        |  FROM mk),
        |tru AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
        |    AS true_distinct FROM base)
        |SELECT n.n_segs, n.sum_seg_distinct, m.u_size, m.theta_fp,
        |  round(CASE WHEN m.u_size < 64 THEN CAST(m.u_size AS DOUBLE)
        |    ELSE 63.0 * power(2.0, 60) / CAST(m.theta_fp AS DOUBLE) END, 4)
        |    AS est_distinct,
        |  t.true_distinct,
        |  CAST((SELECT list(h ORDER BY h) FROM mk)
        |    = (SELECT list(h ORDER BY h) FROM yk) AS INT) AS merge_identical
        |FROM nd n, ms m, tru t""".stripMargin),

    // Manual bloom-join reduction — the semi-join pushdown a 100 TB
    // fact⋈dim plan wants when the dim filter is selective but the dim
    // is too big to broadcast as a hash table: build ONE bit array over
    // the filtered dim keys (partials OR-merge for free), broadcast it,
    // and drop fact rows MAP-SIDE before the shuffle join pays for
    // them. False positives just ride through to the exact join (no
    // false negatives), so the join result is untouched — which is why
    // the pass/joined/fp counters can sit under a hard oracle: the
    // md5-based filter is bit-deterministic and DuckDB rebuilds it.
    // Fixed m here (the sizing discipline is gated separately in
    // bloom_autosize_fpr); production derives m from an HLL pre-count.
    QueryDef("bloom_join_reduction", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val nBits = 262144
      val k = 7
      // one orders scan (checkpointed dim feeds bloom build AND the
      // exact join side), ONE lineitem pass: the broadcast-hash left
      // join fires only on pass-flagged rows, so total/pass/joined
      // all come from a single aggregate
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
        .localCheckpoint()
      val bloomAgg = udaf(new graft.functions.BloomFilterAgg(nBits, k),
        Encoders.STRING)
      val bloom = urgent.agg(
        bloomAgg(col("o_orderkey").cast("string")).as("bits"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      li.crossJoin(broadcast(bloom))
        .withColumn("pass", graft.functions.BloomFilterAgg.mayContain(
          col("bits"), col("l_orderkey").cast("string"), nBits, k))
        .join(broadcast(urgent),
          col("l_orderkey") === col("o_orderkey") && col("pass"), "left")
        .agg(count(lit(1)).as("total_rows"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("bloom_pass"),
          count(col("o_orderkey")).as("joined_rows"))
        .select(col("total_rows"), col("bloom_pass"), col("joined_rows"),
          (col("bloom_pass") - col("joined_rows")).as("fp_passed"))
    },
      // the filter is md5-deterministic, so even the FP count is exact:
      // the oracle rebuilds the k=7 Kirsch–Mitzenmacher bit set and
      // replays every probe (7 rows per key; a position hit with
      // multiplicity counts per probe, matching the JVM loop)
      """WITH bl AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS kk
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |blh AS (SELECT
        |    CAST('0x' || substr(md5(kk), 1, 7) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(kk), 8, 7) AS BIGINT) | 1 AS h2
        |  FROM bl),
        |blpos AS (SELECT DISTINCT (h1 + t.i * h2) % 262144 AS pos
        |  FROM blh, range(0, 7) t(i)),
        |keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |kh AS (SELECT l_orderkey,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 7)
        |      AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 8, 7)
        |      AS BIGINT) | 1 AS h2
        |  FROM keys),
        |kpos AS (SELECT k.l_orderkey, (k.h1 + t.i * k.h2) % 262144 AS pos
        |  FROM kh k, range(0, 7) t(i)),
        |hit AS (SELECT p.l_orderkey, count(b.pos) AS nhit
        |  FROM kpos p LEFT JOIN blpos b USING (pos)
        |  GROUP BY 1),
        |pk AS (SELECT l_orderkey FROM hit WHERE nhit = 7)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS total_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     JOIN pk USING (l_orderkey)) AS bloom_pass,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     JOIN orders o ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderpriority = '1-URGENT') AS joined_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     JOIN pk USING (l_orderkey))
        |  - (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     JOIN orders o ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderpriority = '1-URGENT') AS fp_passed""".stripMargin),

    // HLL sketch over a SLIDING window — the sketch answer to
    // rolling_distinct (Scoring): 7-day rolling distinct-user reach
    // where each window's registers are the slot-wise MAX of its days'
    // registers (max is associative and idempotent, so merged-window
    // registers are IDENTICAL to a sketch built from the window's
    // distinct pairs — which is exactly what the oracle rebuilds).
    // Scale contrast that motivates it: rolling_distinct shuffles
    // distinct (user, day) pairs × 7 — user-cardinality-sized;
    // here the daily sketches build in ONE keyed pass and the 7-way
    // window fanout ships n_days × 7 × 64-int registers — CONSTANT in
    // user count. At 100 TB reach dashboards this is the only shape
    // that survives. Same days-present window semantics as
    // rolling_distinct (window d covers [d−6, d], emitted for observed
    // days), true_reach carried for the honesty compare.
    QueryDef("rolling_hll_reach", (s, dir) => {
      val hll = udaf(new graft.functions.HyperLogLogAgg(),
        org.apache.spark.sql.Encoders.STRING)
      val ev = events(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      val daily = ev.groupBy("d")
        .agg(hll(col("user_id").cast("string")).as("regs"))
        .localCheckpoint() // fanout + days semi-join both consume it
      val days = daily.select(col("d").as("od"))
      val merged = daily
        .select(explode(sequence(col("d"), col("d") + 6)).as("od"),
          col("regs"))
        .join(days, Seq("od"), "left_semi")
        .select(col("od"), posexplode(col("regs")).as(Seq("pos", "reg")))
        .groupBy("od", "pos").agg(max("reg").as("reg"))
        .groupBy("od")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("reg")))),
          x => x.getField("reg")).as("regs"))
      val exact = ev.distinct()
        .select(col("user_id"),
          explode(sequence(col("d"), col("d") + 6)).as("od"))
        .distinct()
        .join(days, Seq("od"), "left_semi")
        .groupBy("od").agg(count_distinct(col("user_id")).as("true_reach"))
      merged.join(exact, "od")
        .select(col("od").as("d"),
          graft.functions.HyperLogLogAgg.estimate(col("regs"))
            .as("est_reach"),
          col("true_reach"),
          graft.functions.HyperLogLogAgg.regWeight(col("regs"))
            .as("reg_weight"),
          graft.functions.HyperLogLogAgg.zeroRegs(col("regs"))
            .as("zero_regs"))
        .orderBy("d")
    },
      // max-merge associativity means window registers ≡ registers of the
      // window's distinct (day, user) pairs — the oracle builds them
      // directly from those pairs, never simulating per-day sketches
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |wu AS (SELECT DISTINCT u.user_id, u.d + t.o AS od
        |  FROM ud u, range(0, 7) t(o)),
        |wud AS (SELECT w.user_id, w.od FROM wu w
        |  JOIN days ON days.d = w.od),
        |h AS (SELECT od,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS x
        |  FROM wud),
        |br AS (SELECT od, x % 64 AS bucket,
        |    55 - (CASE WHEN x // 64 = 0 THEN 0
        |               ELSE length(bin(x // 64)) END) AS rho
        |  FROM h),
        |regs AS (SELECT od, bucket, max(rho) AS reg FROM br GROUP BY 1, 2),
        |grid AS (SELECT w.od, t.b AS bucket
        |  FROM (SELECT DISTINCT od FROM wud) w, range(0, 64) t(b)),
        |fr AS (SELECT g.od, coalesce(r.reg, 0) AS reg
        |  FROM grid g LEFT JOIN regs r
        |    ON r.od = g.od AND r.bucket = g.bucket),
        |agg AS (SELECT od,
        |    CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT)
        |      AS reg_weight,
        |    CAST(count(*) FILTER (WHERE reg = 0) AS INT) AS zero_regs
        |  FROM fr GROUP BY od),
        |est AS (SELECT od, reg_weight, zero_regs,
        |    (0.709 * 4096) * pow(2.0, 55) / CAST(reg_weight AS DOUBLE)
        |      AS raw
        |  FROM agg),
        |tru AS (SELECT od, count(DISTINCT user_id) AS true_reach
        |  FROM wud GROUP BY od)
        |SELECT e.od AS d,
        |  round(CASE WHEN e.raw <= 160.0 AND e.zero_regs > 0
        |             THEN 64.0 * ln(64.0 / e.zero_regs) ELSE e.raw END, 4)
        |    AS est_reach,
        |  CAST(t.true_reach AS BIGINT) AS true_reach,
        |  e.reg_weight, e.zero_regs
        |FROM est e JOIN tru t USING (od) ORDER BY d""".stripMargin),

    // HLL sketch SET ALGEBRA — the third member of the sketch-merge
    // family (hll_rollup merges UP a hierarchy; this merges ACROSS
    // sets): audience overlap between 'view' users and 'purchase'
    // users from three register arrays only. Union = slot-wise MAX of
    // the two sketches (never re-scanning keys); intersection =
    // inclusion–exclusion over the three estimates — the standard HLL
    // idiom, with its known signed error on small overlaps, which is
    // exactly why the exact countDistinct/semi-join witnesses ride
    // along (est vs true IS the readout). One row out.
    QueryDef("hll_set_ops", (s, dir) => {
      val hll = udaf(new graft.functions.HyperLogLogAgg(),
        org.apache.spark.sql.Encoders.STRING)
      // ONE events scan: the distinct (event_type, user_id) set is
      // checkpointed and feeds the sketches, the union merge, AND the
      // exact witnesses (HLL registers are duplicate-insensitive, so
      // sketching the distinct set is register-identical)
      val base = events(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id").distinct()
        .localCheckpoint()
      val regs = base.groupBy("event_type")
        .agg(hll(col("user_id").cast("string")).as("regs"))
        .localCheckpoint() // read three times: estA, estB, union merge
      def est(et: String, as: String) =
        regs.filter(col("event_type") === et)
          .select(graft.functions.HyperLogLogAgg.estimate(col("regs"))
            .as(as))
      val union = regs
        .select(posexplode(col("regs")).as(Seq("pos", "reg")))
        .groupBy("pos").agg(max("reg").as("reg"))
        .agg(graft.functions.HyperLogLogAgg.estimate(transform(
          array_sort(collect_list(struct(col("pos"), col("reg")))),
          x => x.getField("reg"))).as("est_union"))
      val flags = base.groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("has_v"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("has_p"))
      val truth = flags.agg(
        sum("has_v").as("true_a"), sum("has_p").as("true_b"),
        sum(col("has_v") * col("has_p")).as("true_intersect"))
      est("view", "est_a").crossJoin(est("purchase", "est_b"))
        .crossJoin(union).crossJoin(truth)
        .select(col("est_a"), col("est_b"), col("est_union"),
          bround(col("est_a") + col("est_b") - col("est_union"), 4)
            .as("est_intersect"),
          col("true_a"), col("true_b"), col("true_intersect"))
    },
      // the portable-HLL spelling of hll_rollup, run over three key
      // sets (A, B, A∪B); union-by-register-MAX ≡ sketch of the union
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'view'),
        |b AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'purchase'),
        |keys AS (SELECT 'a' AS s, user_id FROM a
        |  UNION ALL SELECT 'b' AS s, user_id FROM b
        |  UNION ALL SELECT 'u' AS s, user_id
        |    FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)),
        |h AS (SELECT s,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS x
        |  FROM keys),
        |br AS (SELECT s, x % 64 AS bucket,
        |    55 - (CASE WHEN x // 64 = 0 THEN 0
        |               ELSE length(bin(x // 64)) END) AS rho
        |  FROM h),
        |regs AS (SELECT s, bucket, max(rho) AS reg FROM br GROUP BY 1, 2),
        |grid AS (SELECT g.s, t.b AS bucket
        |  FROM (SELECT DISTINCT s FROM keys) g, range(0, 64) t(b)),
        |fr AS (SELECT g.s, coalesce(r.reg, 0) AS reg
        |  FROM grid g LEFT JOIN regs r
        |    ON r.s = g.s AND r.bucket = g.bucket),
        |agg AS (SELECT s,
        |    CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS w,
        |    CAST(count(*) FILTER (WHERE reg = 0) AS INT) AS z
        |  FROM fr GROUP BY 1),
        |est AS (SELECT s,
        |    round(CASE WHEN (0.709 * 4096) * pow(2.0, 55)
        |          / CAST(w AS DOUBLE) <= 160.0 AND z > 0
        |        THEN 64.0 * ln(64.0 / z)
        |        ELSE (0.709 * 4096) * pow(2.0, 55) / CAST(w AS DOUBLE)
        |        END, 4) AS e
        |  FROM agg),
        |wide AS (SELECT
        |    (SELECT e FROM est WHERE s = 'a') AS est_a,
        |    (SELECT e FROM est WHERE s = 'b') AS est_b,
        |    (SELECT e FROM est WHERE s = 'u') AS est_union)
        |SELECT est_a, est_b, est_union,
        |  CAST(round_even(est_a + est_b - est_union, 4) AS DOUBLE)
        |    AS est_intersect,
        |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS true_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS true_b,
        |  (SELECT CAST(count(*) AS BIGINT)
        |     FROM a JOIN b USING (user_id)) AS true_intersect
        |FROM wide""".stripMargin),

    // CMS sketch ROLLUP — completes the sketch-merge family's third
    // member as a GATED query (HLL registers merge by MAX →
    // hll_rollup; bin-grid counters by SUM → sketch_quantile_rollup;
    // CMS counters also by SUM → here): per-day 4×64 Count-Min
    // sketches of the event-type stream merge element-wise UP to the
    // corpus level entirely in-plan, and the merged estimate equals
    // the one-shot sketch exactly (sum is associative — the oracle
    // rebuilds the merged counters without ever seeing days).
    // sketch_weight = depth·rows is the exact-integer witness that no
    // counter was lost in the merge; est ≥ true is the CMS guarantee.
    QueryDef("cms_rollup", (s, dir) => {
      val depth = 4
      val width = 64
      val cmsU = udaf(new graft.functions.CountMinSketchAgg(depth, width),
        org.apache.spark.sql.Encoders.STRING)
      val ev = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"))
      val daily = ev.groupBy("day")
        .agg(cmsU(col("event_type")).as("sk"), count(lit(1)).as("n"))
        .localCheckpoint() // feeds the merge AND the calendar witness
      val merged = daily
        .select(posexplode(col("sk")).as(Seq("pos", "c")))
        .groupBy("pos").agg(sum("c").as("c"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("sk"))
      val cal = daily.agg(count(lit(1)).as("n_days"),
        sum("n").as("total_rows"))
      val (h1, h2) =
        graft.functions.CountMinSketchAgg.hashPairCols(col("event_type"))
      val est = (0 until depth).map { i =>
        element_at(col("sk"),
          (lit(i * width) + pmod(h1 + lit(i.toLong) * h2,
            lit(width.toLong)) + 1).cast("int"))
      }.reduce(least(_, _))
      ev.groupBy("event_type").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(merged))
        .crossJoin(broadcast(cal))
        .select(col("event_type"), est.as("est_cnt"), col("true_cnt"),
          col("n_days"),
          aggregate(col("sk"), lit(0L), (a, x) => a + x)
            .as("sketch_weight"),
          (lit(depth) * col("total_rows")).as("expected_weight"))
        .orderBy("event_type")
    },
      // merged-by-sum counters ≡ one-shot counters (associativity), so
      // the oracle rebuilds them day-blind; weights are exact integers
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |cells AS (SELECT event_type, cnt, t.i,
        |    (CAST('0x' || substr(md5(event_type), 1, 7) AS BIGINT)
        |     + t.i * (CAST('0x' || substr(md5(event_type), 8, 7)
        |       AS BIGINT) | 1)) % 64 AS cell
        |  FROM m, range(0, 4) t(i)),
        |counters AS (SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM cells GROUP BY 1, 2),
        |est AS (SELECT k.event_type, CAST(min(c.c) AS BIGINT) AS est_cnt
        |  FROM cells k JOIN counters c ON k.i = c.i AND k.cell = c.cell
        |  GROUP BY 1),
        |cal AS (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
        |      AS n_days,
        |    CAST(count(*) AS BIGINT) AS total_rows
        |  FROM events),
        |w AS (SELECT CAST(sum(c) AS BIGINT) AS sketch_weight
        |  FROM counters)
        |SELECT m.event_type, e.est_cnt, m.cnt AS true_cnt,
        |  cal.n_days, w.sketch_weight,
        |  4 * cal.total_rows AS expected_weight
        |FROM m JOIN est e USING (event_type)
        |CROSS JOIN cal CROSS JOIN w
        |ORDER BY m.event_type""".stripMargin),

    // Exact mergeable count-distinct via fixed-width bitmap words —
    // the bitmap-index rollup idiom: key k maps to word k div 62 and
    // bit k % 62 (62-bit words keep every mask positive, the widest
    // shift both engines' BIGINT semantics agree on), a per-(year,
    // month, word) bit_or builds the monthly bitmap, and month→year
    // rollup is ANOTHER bit_or over the same word keys — EXACT
    // distinct counts that merge without ever re-shuffling raw keys,
    // the precise-count sibling of hll_rollup. State per group is
    // |key space|/62 words spread across word-hash partitions (each
    // word is independent — no single-reducer bitmap).
    // sum_month_distinct > distinct_bitmap witnesses the cross-month
    // repeat customers the merge deduplicated; distinct_exact pins the
    // bitmap arithmetic to a plain countDistinct.
    QueryDef("bitmap_distinct", (s, dir) => {
      val o = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        col("o_custkey").as("k"))
      val words = o.select(col("yr"), col("mo"),
        expr("CAST(k DIV 62 AS BIGINT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(k % 62 AS INT))").as("m"))
      val monthly = words.groupBy("yr", "mo", "w")
        .agg(bit_or(col("m")).as("bm"))
        .localCheckpoint() // feeds month counts AND the year merge
      val sums = monthly.groupBy("yr", "mo")
        .agg(sum(bit_count(col("bm"))).as("d"))
        .groupBy("yr")
        .agg(count(lit(1)).as("n_months"),
          sum("d").cast("long").as("sum_month_distinct"))
      val merged = monthly.groupBy("yr", "w")
        .agg(bit_or(col("bm")).as("ybm"))
        .groupBy("yr")
        .agg(sum(bit_count(col("ybm"))).cast("long").as("distinct_bitmap"))
      val exact = o.groupBy("yr")
        .agg(countDistinct("k").as("distinct_exact"))
      merged.join(sums, "yr").join(exact, "yr")
        .select(col("yr"), col("n_months"), col("sum_month_distinct"),
          col("distinct_bitmap"), col("distinct_exact"))
        .orderBy("yr")
    },
      """WITH o AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT)
        |      AS yr,
        |    CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
        |    CAST(o_custkey AS BIGINT) AS k FROM orders),
        |w AS (SELECT yr, mo, k // 62 AS w,
        |    (CAST(1 AS BIGINT) << CAST(k % 62 AS INT)) AS m FROM o),
        |mb AS (SELECT yr, mo, w, bit_or(m) AS bm FROM w GROUP BY 1, 2, 3),
        |md AS (SELECT yr, mo, CAST(sum(bit_count(bm)) AS BIGINT) AS d
        |       FROM mb GROUP BY 1, 2),
        |sm AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_months,
        |         CAST(sum(d) AS BIGINT) AS sum_month_distinct
        |       FROM md GROUP BY 1),
        |yb AS (SELECT yr, w, bit_or(bm) AS ybm FROM mb GROUP BY 1, 2),
        |ym AS (SELECT yr, CAST(sum(bit_count(ybm)) AS BIGINT)
        |         AS distinct_bitmap FROM yb GROUP BY 1),
        |ex AS (SELECT yr, CAST(count(DISTINCT k) AS BIGINT)
        |         AS distinct_exact FROM o GROUP BY 1)
        |SELECT ex.yr, sm.n_months, sm.sum_month_distinct,
        |  ym.distinct_bitmap, ex.distinct_exact
        |FROM ex JOIN sm USING (yr) JOIN ym USING (yr)
        |ORDER BY yr""".stripMargin),

    // top-k per group: one window pass, never a per-group sort-limit
    // loop; the partition-local rank prunes before any global ordering
    QueryDef("topk_per_group", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("o_orderpriority", "rk")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |FROM orders
        |QUALIFY rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin),

    // grouped string aggregation: sort_array(collect_list) + concat_ws
    // is the deterministic Spark spelling of SQL's ordered string_agg
    QueryDef("string_agg_group", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
            .as("statuses"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // unpivot (wide -> long, the inverse of the pivot op): the 3-col
    // truncated-sum row melts into (metric, value) pairs
    QueryDef("unpivot_sums", (s, dir) => {
      val wide = t(s, dir, "lineitem").agg(
        sum(col("l_quantity").cast("double").cast("long")).as("qty"),
        sum(col("l_extendedprice").cast("double").cast("long")).as("price"),
        sum(col("l_discount").cast("double").cast("long")).as("disc"))
      wide.unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("qty"), col("price"), col("disc")), "metric", "value")
        .orderBy("metric")
    },
      // spelled as UNION ALL so the oracle pins the same (metric, value)
      // pairs without depending on DuckDB's UNPIVOT column ordering
      """WITH wide AS (SELECT
        |  CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  CAST(sum(CAST(trunc(l_extendedprice) AS BIGINT)) AS BIGINT) AS price,
        |  CAST(sum(CAST(trunc(l_discount) AS BIGINT)) AS BIGINT) AS disc
        |FROM lineitem)
        |SELECT 'qty' AS metric, qty AS value FROM wide
        |UNION ALL SELECT 'price', price FROM wide
        |UNION ALL SELECT 'disc', disc FROM wide
        |ORDER BY metric""".stripMargin),

    // anti join (the complement of join_semi): customers with NO urgent
    // order — same hash-join shuffle shape, null-safe by construction
    QueryDef("join_anti", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // scalar-subquery shape: rows above the global mean, spelled
    // multiplicatively (price × n > total) so every comparison is one
    // IEEE double op — no decimal-division scale rules to diverge on.
    // The one-row aggregate broadcasts; the fact table never reshuffles.
    QueryDef("scalar_subquery", (s, dir) => {
      val o = t(s, dir, "orders")
      val tot = o.agg(
        sum(money("o_totalprice")).cast("double").as("total"),
        count(lit(1)).as("n"))
      o.join(broadcast(tot))
        .filter(col("o_totalprice") * col("n") > col("total"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    },
      """WITH s AS (SELECT
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt
        |FROM orders, s
        |WHERE o_totalprice * s.n > s.total
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // explicit GROUPING SETS (beyond cube/rollup) + grouping() markers,
    // through the SQL front-end
    QueryDef("grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))
          |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin),

    // ranking-function family over one window pass: dense_rank,
    // percent_rank, ntile, cume_dist (all rank-arithmetic —
    // deterministic given the total tiebreak)
    QueryDef("window_ranks", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          dense_rank().over(w).as("drk"),
          percent_rank().over(w).as("prk"),
          ntile(4).over(w).as("tile"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(dense_rank() OVER w AS INT) AS drk,
        |  percent_rank() OVER w AS prk,
        |  CAST(ntile(4) OVER w AS INT) AS tile,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // equi-width histogram: min/max in one tiny broadcast aggregate,
    // then a single scan bins every row — two passes, no shuffle of the
    // fact table; the bin expression is mirrored verbatim in the oracle
    // so the IEEE division sequence is identical
    QueryDef("histogram_bins", (s, dir) => {
      val o = t(s, dir, "orders")
      val st = o.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      o.join(broadcast(st))
        .select(least(
          floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / lit(10.0))), lit(9L))
          .cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
    },
      """WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders)
        |SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10.0)), 9)
        |    AS INT) AS bin,
        |  count(*) AS cnt
        |FROM orders, s GROUP BY bin ORDER BY bin""".stripMargin),

    // bucketed-table layout exercised through the gate: write both sides
    // bucketed+sorted on the join key (graft.ops.Bucketing), then join
    // the catalog tables. Pre-shuffled-at-write is the 100 TB layout for
    // keys joined daily; BucketingSpec asserts the zero-Exchange plan,
    // this query asserts the VALUES survive the bucketed write+read.
    QueryDef("join_bucketed", (s, dir) => {
      // table names keyed by the sf dir like the path: queries over two
      // sf dirs in one session must not clobber each other's tables
      val tag = Scratch.slug(dir)
      val base = Scratch.dir(dir, "bucketed")
      graft.ops.Bucketing.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"graft_orders_b_$tag", s"$base/orders_b", "o_custkey", 8)
      graft.ops.Bucketing.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        s"graft_customer_b_$tag", s"$base/customer_b", "c_custkey", 8)
      s.table(s"graft_orders_b_$tag")
        .join(s.table(s"graft_customer_b_$tag"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(money("o_totalprice")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    },
      // bucketed write+read must preserve the plain join's values
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // JSON-lines sink+source round-trip: write the documents table as
    // JSONL, read it back with the EXPLICIT schema (never inference at
    // scale), and checksum every column — the oracle computes the same
    // checksums from the parquet original, so any value the JSON path
    // mangles (escaping, unicode, nulls) breaks the hash.
    QueryDef("jsonl_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = Scratch.dir(dir, "documents_jsonl")
      d.write.mode("overwrite").json(path)
      roundtripChecksum(s.read.schema(d.schema).json(path))
    },
      // the round-trip checksums must equal the parquet originals' — one
      // definition for both formats, so the equality claims can't desync
      roundtripChecksumOracle),

    // same round-trip through the columnar ORC source/sink
    QueryDef("orc_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = Scratch.dir(dir, "documents_orc")
      d.write.mode("overwrite").orc(path)
      roundtripChecksum(s.read.schema(d.schema).orc(path))
    },
      roundtripChecksumOracle),

    // same round-trip through Spark 4's built-in XML source/sink — the
    // format legacy enterprise feeds still arrive in (the reference's
    // Drill layer advertises the same any-format-to-SQL posture,
    // report_engine.py:48-62). rowTag scopes one <doc> element per
    // record; ignoreSurroundingSpaces=false keeps text content
    // byte-identical (the default trims, which would silently shrink
    // text_len on whitespace-padded docs)
    QueryDef("xml_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
      val path = Scratch.dir(dir, "documents_xml")
      d.write.mode("overwrite").format("xml")
        .option("rowTag", "doc").save(path)
      roundtripChecksum(s.read.schema(d.schema).format("xml")
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .load(path))
    },
      roundtripChecksumOracle),

    // the date-function family over the event timeline: extraction
    // (year/quarter/month/iso-week/day-of-week/day-of-year), month-end,
    // date arithmetic, and day differences — grouped to one row per day
    // so the whole family is exercised without a per-event blowup
    QueryDef("datetime_functions", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      daily.select(
        col("day"), col("cnt"),
        year(col("day")).as("yr"),
        quarter(col("day")).as("qtr"),
        month(col("day")).as("mo"),
        weekofyear(col("day")).as("iso_week"),
        dayofweek(col("day")).as("dow"),
        dayofyear(col("day")).as("doy"),
        last_day(col("day")).as("month_end"),
        date_add(col("day"), 30).as("plus30"),
        datediff(col("day"), to_date(lit("2024-01-01"))).as("days_since"))
        .orderBy("day")
    },
      // DuckDB's week() is ISO week (= Spark weekofyear); its dayofweek is
      // 0=Sunday where Spark's is 1=Sunday, hence the +1; date - DATE is
      // an integer day count (= Spark datediff)
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1)
        |SELECT day, cnt,
        |  CAST(year(day) AS INT) AS yr,
        |  CAST(quarter(day) AS INT) AS qtr,
        |  CAST(month(day) AS INT) AS mo,
        |  CAST(week(day) AS INT) AS iso_week,
        |  CAST(dayofweek(day) + 1 AS INT) AS dow,
        |  CAST(dayofyear(day) AS INT) AS doy,
        |  last_day(day) AS month_end,
        |  day + 30 AS plus30,
        |  CAST(day - DATE '2024-01-01' AS INT) AS days_since
        |FROM daily ORDER BY day""".stripMargin),

    // batch sessionization (the batch twin of streaming/FunnelStream
    // .userSessions): a session breaks where the gap to the previous
    // event exceeds 30 min; session number = running count of breaks.
    // Two window passes over ONE hash partitioning (user_id) — lag and
    // running sum share the shuffle — then the per-session rollup.
    QueryDef("sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(w))
      val sess = events(s, dir)
        .withColumn("new_sess",
          when(coalesce(gapUs > 30L * 60 * 1000000, lit(true)), 1)
            .otherwise(0))
        .withColumn("sess_no", sum("new_sess").over(w))
      sess.groupBy("user_id", "sess_no")
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
        .orderBy("user_id", "sess_no")
    },
      // same break/running-count arithmetic; CAST pins DuckDB's window
      // sums (HUGEINT) and counts back to Spark's types
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
        |SELECT user_id, sess_no, count(*) AS n_events,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        |FROM s GROUP BY user_id, sess_no
        |ORDER BY user_id, sess_no""".stripMargin),

    // Peak concurrency by sweep line — the interval-overlap operator
    // (how many sessions were simultaneously open, per day): sessions
    // from the shared gaps-and-islands spelling, exploded to their
    // touched days (a session spans ≤2 calendar days here), clipped to
    // day bounds, then ±1 endpoint events and a per-day running sum
    // whose MAX is the day's peak. Tie rule (+1 sorts before −1 at the
    // same µs) makes the peak inclusive AND order-independent under
    // ties (equal deltas commute; the post-group sum dominates any
    // prefix). Scale shape: the sweep is partitioned by DAY — each
    // day's window is one task, bounded by that day's session count,
    // and days parallelize; no global ordering anywhere.
    QueryDef("peak_concurrency", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(w))
      val sess = events(s, dir)
        .withColumn("new_sess",
          when(coalesce(gapUs > 30L * 60 * 1000000, lit(true)), 1)
            .otherwise(0))
        .withColumn("sess_no", sum("new_sess").over(w))
        .groupBy("user_id", "sess_no")
        .agg(unix_micros(min(col("ts"))).as("s_us"),
          unix_micros(max(col("ts"))).as("e_us"))
      val perDay = sess
        .withColumn("day", explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          to_date(timestamp_micros(col("e_us"))))))
        .withColumn("d0", unix_micros(col("day").cast("timestamp")))
        .withColumn("cs", greatest(col("s_us"), col("d0")))
        .withColumn("ce",
          least(col("e_us"), col("d0") + lit(86400000000L) - 1))
      val pts = perDay
        .select(col("day"), col("cs").as("us"), lit(1L).as("delta"))
        .unionByName(perDay
          .select(col("day"), col("ce").as("us"), lit(-1L).as("delta")))
      val wd = Window.partitionBy("day")
        .orderBy(col("us").asc, col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("run", sum("delta").over(wd))
        .groupBy("day")
        .agg(max("run").as("peak_concurrent"),
          count(when(col("delta") === 1L, 1)).as("n_sessions"))
        .orderBy("day")
    },
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN coalesce(
        |      epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000,
        |      true) THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sn AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS sess_no
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sess_no, epoch_us(min(ts)) AS s_us,
        |    epoch_us(max(ts)) AS e_us
        |  FROM sn GROUP BY 1, 2),
        |d AS (
        |  SELECT s_us, e_us,
        |    unnest(generate_series(make_timestamp(s_us)::DATE,
        |      make_timestamp(e_us)::DATE, INTERVAL 1 DAY))::DATE AS day
        |  FROM sess),
        |c AS (
        |  SELECT day,
        |    greatest(s_us, epoch_us(day::TIMESTAMP)) AS cs,
        |    least(e_us, epoch_us(day::TIMESTAMP) + 86400000000 - 1) AS ce
        |  FROM d),
        |p AS (SELECT day, cs AS us, 1 AS delta FROM c
        |      UNION ALL SELECT day, ce, -1 FROM c),
        |r AS (
        |  SELECT day, delta,
        |    sum(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM p)
        |SELECT day, CAST(max(run) AS BIGINT) AS peak_concurrent,
        |  CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_sessions
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // data-quality check battery (the dbt-test family): null keys,
    // duplicate primary keys, FK orphans, range violations, empty
    // payloads — each an independent aggregate, unioned into one
    // (check, violations) report. Each check is a single scan with a
    // map-side-combinable aggregate; none shuffles more than its
    // distinct-count key.
    QueryDef("dq_checks", (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val ev = events(s, dir)
      val d = t(s, dir, "documents")
      def check(name: String, cnt: DataFrame): DataFrame =
        cnt.select(lit(name).as("check"), col("violations"))
      check("orders_null_custkey",
        o.agg(count(when(col("o_custkey").isNull, 1)).as("violations")))
        .unionByName(check("orders_dup_pk",
          o.agg((count(lit(1)) - countDistinct("o_orderkey")).as("violations"))))
        .unionByName(check("lineitem_orphan_fk",
          li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
        .unionByName(check("events_value_out_of_range",
          ev.agg(count(when(col("value").isNull ||
            col("value") < 0 || col("value") > 1000000, 1)).as("violations"))))
        .unionByName(check("documents_empty_text",
          d.agg(count(when(col("text").isNull || length(col("text")) === 0, 1))
            .as("violations"))))
        .orderBy("check")
    },
      """SELECT * FROM (
        |  SELECT 'orders_null_custkey' AS "check",
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_dup_pk',
        |    count(*) - count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orphan_fk', count(*) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'events_value_out_of_range',
        |    count(CASE WHEN value IS NULL OR value < 0 OR value > 1000000
        |               THEN 1 END)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents_empty_text',
        |    count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END)
        |  FROM documents)
        |ORDER BY "check"""".stripMargin),

    // changelog -> current state (the CDC/SCD "latest wins" materialize):
    // one window pass per key, total tiebreak — the batch analogue of
    // streaming state compaction, and the shape a 100 TB upsert
    // materialization takes (shuffle by key once, rank, keep rn=1)
    QueryDef("cdc_latest", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("user_id")
    },
      """SELECT user_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin),

    // per-group z-score outlier flags with DETERMINISTIC moments: Σx and
    // Σx² accumulate as DECIMAL (exact, order-independent) and only the
    // final scalars hit double, so mean/sd/z are fixed IEEE expression
    // chains the oracle mirrors verbatim — no Welford-vs-naive or
    // sum-order drift. The stats aggregate broadcasts back onto the
    // stream; the fact table shuffles once.
    QueryDef("outlier_zscore", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val st = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(money("value")).cast("double").as("sx"),
        sum(money("value") * money("value")).cast("double").as("sxx"))
        .select(col("event_type"), col("n"),
          (col("sx") / col("n")).as("mean"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("sd"))
      ev.join(broadcast(st), "event_type")
        .groupBy(col("event_type"), col("mean"), col("sd"))
        .agg(count(when(abs((col("value") - col("mean")) / col("sd")) > 3.0,
          lit(1))).as("outliers"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("outliers"), col("n"),
          bround(col("mean"), 6).as("mean_r"), bround(col("sd"), 6).as("sd_r"))
        .orderBy("event_type")
    },
      // mean/sd spelled as the SAME double expression chain over exact
      // decimal sums; z compares identically in both engines
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |m AS (SELECT event_type, n, sx / n AS mean,
        |    sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
        |  FROM st)
        |SELECT e.event_type,
        |  count(*) FILTER (WHERE abs((e.value - m.mean) / m.sd) > 3.0)
        |    AS outliers,
        |  count(*) AS n,
        |  round(m.mean, 6) AS mean_r,
        |  round(m.sd, 6) AS sd_r
        |FROM events e JOIN m USING (event_type)
        |GROUP BY e.event_type, m.mean, m.sd
        |ORDER BY e.event_type""".stripMargin),

    // skew-mitigated equi-join: event_type has only a handful of values,
    // so a plain shuffle join lands each type on ONE reducer — the
    // pathological hot-key shape. Skew.saltedJoin spreads each key over
    // 16 salts; the merge hint forces the shuffle path (at test SF the
    // optimizer would broadcast the dim and hide the mechanism; at
    // 100 TB a per-key profile dim is corpus-sized and can't broadcast).
    // The gate: salted output ≡ the plain-join oracle, row for row.
    QueryDef("salted_join", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), money("value").as("value"))
      val dim = ev.groupBy("event_type")
        .agg(count(lit(1)).as("type_total"))
      graft.ops.Skew.saltedJoin(ev, dim.hint("merge"), "event_type")
        .groupBy("event_type", "type_total")
        .agg(sum("value").cast("double").as("sum_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      // the salted (key, salt) join must equal the plain inner join
      """WITH dim AS (
        |  SELECT event_type, count(*) AS type_total
        |  FROM events GROUP BY event_type)
        |SELECT event_type, type_total,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events JOIN dim USING (event_type)
        |GROUP BY event_type, type_total ORDER BY event_type""".stripMargin),

    // argmax WITHOUT a window: max(struct(...)) picks each user's
    // highest-value event (event_id tiebreak makes it total) in ONE
    // partial-aggregating pass — at 100 TB the map-side combine reduces
    // each partition to one row per key before the shuffle, where the
    // window form (rank + filter) must shuffle every raw row first.
    QueryDef("argmax_agg", (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .agg(max(struct(col("value"), col("event_id"), col("event_type")))
          .as("m"))
        .select(col("user_id"), col("m.value").as("best_value"),
          col("m.event_id").as("best_event"),
          col("m.event_type").as("best_type"))
        .orderBy("user_id"),
      // struct-max ordering = (value, event_id, event_type) lexicographic;
      // the window spelling with the same total order is its oracle
      """SELECT user_id, value AS best_value, event_id AS best_event,
        |  event_type AS best_type
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY value DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin),

    // SCD2 validity intervals from a changelog: collapse consecutive
    // duplicate states, then valid_from/valid_to from the next change.
    // Both window passes share one (user_id) hash partitioning — the
    // filter between them preserves distribution, so ONE shuffle total.
    QueryDef("scd2_intervals", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
        .orderBy("user_id", "valid_from_us")
    },
      """WITH ch AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (SELECT * FROM ch
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts), 1) OVER w AS valid_to_us,
        |  lead(epoch_us(ts), 1) OVER w IS NULL AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from_us""".stripMargin),

    // small-dimension broadcast joins: nation and region never shuffle
    QueryDef("join_broadcast", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, count(*) AS cnt
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)
  ).flatMap {
    // `space_saving_topk` is the pre-r14 id of misra_gries_topk (see the
    // misnomer note at its registration), kept as an alias so per-round
    // artifacts (`CORRECTNESS_r*`, `BENCH_r*`) stay comparable across the
    // rename
    case d if d.name == "misra_gries_topk" =>
      Seq(d, d.copy(name = "space_saving_topk"))
    case d => Seq(d)
  }
}
