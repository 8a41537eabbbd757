package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.io.Tables
import graft.io.Tables.{read => t}
import graft.llm.{Dedup, Ranking, TextAnalysis}

/** Round-8 (cont.) batch: per-entity signal smoothing and corpus
  * vectorization/quality signals — bounded-window EWMA, the feature
  * hashing trick, interpolated bigram LM scoring (CCNet-style
  * perplexity filtering), and an exact prefix-filtered set-similarity
  * join (PPJoin) as the lossless alternative to the LSH near-dup
  * candidate generators.
  *
  * Same determinism contract as [[Relational]]/[[Analytics]]/[[Scoring]]:
  * integer quantization before any cross-row float sum, fixed IEEE
  * chains mirrored verbatim in the oracle, total ORDER BY.
  */
object Signals {

  /** 512-bin grid width for the mergeable value sketch — an exact
    * binary literal (0.78125) so bin edges are bit-identical
    * everywhere.
    */
  private[graft] val gridW = 400.0 / 512.0

  private[graft] def gridBin(value: Column): Column =
    least(floor(value / lit(gridW)), lit(511L)).cast("int").as("bin")

  /** Quantile readout over a (event_type, bin, c) grid-count table —
    * shared verbatim by the batch sketch queries AND the streaming
    * grid (stream_quantile), so stream/batch parity is parity of the
    * sketch STATE, not of two readout implementations.
    */
  private[graft] def gridQuantileReadout(s: SparkSession,
      bc: DataFrame): DataFrame = {
    import s.implicits._
    val W = gridW
    val wspec = Window.partitionBy("event_type").orderBy("bin")
    val cum = bc.select(col("event_type"), col("bin"), col("c"),
      sum("c").over(wspec).as("cum"))
    val tot = bc.groupBy("event_type").agg(sum("c").as("n"))
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
      .toDF("p", "pname")
    val rank = ceil(col("p") * col("n").cast("double"))
    val v = col("bin").cast("double") * lit(W) +
      lit(W) * (rank - (col("cum") - col("c")).cast("double")) /
        col("c").cast("double")
    cum.join(broadcast(tot), "event_type")
      .crossJoin(broadcast(ps))
      .filter(col("cum").cast("double") >= rank &&
        (col("cum") - col("c")).cast("double") < rank)
      .select(col("event_type"), col("n"), col("pname"),
        round(v, 6).as("v"))
      .groupBy("event_type").agg(
        min("n").as("n"),
        max(when(col("pname") === "p50", col("v"))).as("p50"),
        max(when(col("pname") === "p90", col("v"))).as("p90"),
        max(when(col("pname") === "p99", col("v"))).as("p99"))
      .orderBy("event_type")
  }

  /** [[defs]]' `bfs_levels` body, returning (result, expansion
    * rounds actually RUN) so SignalsSpec can gate the early exit: the
    * level-4 schedule stops as soon as a frontier comes back empty
    * (the graph is exhausted — every later round would join an empty
    * frontier for nothing; on a sparse or fully-explored component
    * that is most of the schedule). `isEmpty` on the just-
    * localCheckpoint-ed frontier reads one materialized partition
    * head, not a recompute. Identical output either way: an empty
    * frontier can never add rows.
    */
  private[graft] def bfsLevels(s: SparkSession, dir: String): (DataFrame, Int) = {
    val li = t(s, dir, "lineitem")
    val e0 = li.select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
      .select(concat(lit("s"), col("sk").cast("string")).as("src"),
        concat(lit("p"), col("pk").cast("string")).as("dst"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val seed = "s" + li.agg(min("l_suppkey")).head().getLong(0)
    val visited0 = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(seed, 0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("lvl",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    // broadcast the FRONTIER (≤ node-count rows), never shuffle the
    // edge table — the textbook distributed-BFS join order; at the
    // 10× fixture this was the difference between re-shuffling 12M
    // edges four times (21.6 s) and four map-side hash probes. The
    // visited anti-join broadcasts for the same reason.
    // visited lives OUTSIDE the harness state (the mis_luby
    // accumulator pattern): as a state frame, every round would re-
    // checkpoint visited-so-far — an O(|visited|) copy job per round.
    // A driver-side union of the ≤4 checkpointed per-round frontiers
    // (visited0 is a 1-row local relation) has bounded lineage, and the
    // anti-join broadcast scans the materialized deltas directly.
    var visited = visited0
    val (st, rounds) = graft.ops.IterateUntilFixed.frontier(
      Map("frontier" -> visited0), 4) { (st, l) =>
      val frontier = st("frontier")
      edges
        .join(broadcast(frontier), frontier("node") === edges("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited), Seq("node"), "left_anti")
        .select(col("node"), lit(l).as("lvl"))
    } { (st, next, _) =>
      visited = visited.unionByName(next)
      Map("frontier" -> next)
    }
    (visited.groupBy("lvl").agg(count(lit(1)).as("n")).orderBy("lvl"),
      rounds)
  }

  /** [[defs]]' `mis_luby` body, returning (result, selection rounds
    * actually RUN) so SignalsSpec can gate the convergence exit. Luby's
    * maximal-independent-set algorithm over the supplier↔part graph —
    * THE symmetry-breaking primitive of distributed graph processing
    * (coloring, scheduling, correlation clustering all reduce to it):
    * each round, an undecided node enters the MIS iff its priority is
    * a strict minimum over its undecided neighborhood; neighbors of
    * new members retire. Priorities are md5-derived (no rand()),
    * encoded as zero-padded "pr:node" STRINGS so the strict tuple
    * compare is plain min()/< on ONE column — the same spelling the
    * DuckDB oracle uses, so the per-round selection cannot drift.
    * Adjacent nodes can never both be local minima (strict order), so
    * independence is structural; the spec gates independence AND
    * maximality against the edge list. Each round: two broadcast
    * hash probes of the (shrinking) undecided set against the
    * checkpointed edge table, one min-aggregate, two anti-joins —
    * frontier-shaped like [[bfsLevels]], no corpus-wide state beyond
    * the node set. The 6-round schedule matches the oracle's unroll;
    * empty rounds add nothing on either engine.
    */
  private[graft] def misLuby(s: SparkSession, dir: String): (DataFrame, Int) = {
    val li = t(s, dir, "lineitem")
    val e0 = li.select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
      .select(concat(lit("s"), col("sk").cast("string")).as("src"),
        concat(lit("p"), col("pk").cast("string")).as("dst"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    def pkeyOf(node: Column): Column = concat(
      lpad(graft.llm.Dedup.hashBucket(concat(lit("mis:"), node),
        1000000000L).cast("string"), 10, "0"), lit(":"), node)
    val und0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), pkeyOf(col("node")).as("pkey"))
      .localCheckpoint()
    // The in/out accumulators live OUTSIDE the iteration state: as
    // state frames, every round's union-with-delta would be re-
    // checkpointed — an O(total-so-far) copy job per round per
    // accumulator. The per-round deltas are
    // already materialized (the harness checkpoints newIn; newOut
    // pre-checkpoints below), so the accumulators are a driver-side
    // list of checkpointed frames, unioned ONCE after the schedule —
    // the union of ≤6 materialized RDDs has bounded lineage and no
    // round-coupled copy cost.
    val inDeltas = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val outDeltas = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val (st, rounds) = graft.ops.IterateUntilFixed.frontier(
      Map("und" -> und0), 6) { (st, _) =>
      val und = st("und")
      // no src∈und pre-filter (one broadcast and one join fewer per
      // round): mn may carry minima for already-DECIDED srcs, but the
      // left_outer probe below is keyed on und's own nodes, so those
      // extra build rows never match anything — newIn is row-identical.
      // The aggregate's extra input (edges whose dst is undecided but
      // whose src retired) shrinks with the undecided set like
      // everything else in the round.
      val u2 = und.select(col("node").as("dst"), col("pkey").as("dkey"))
      val mn = edges.join(broadcast(u2), Seq("dst"))
        .groupBy("src").agg(min("dkey").as("mk"))
        .select(col("src").as("node"), col("mk"))
      und.join(broadcast(mn), Seq("node"), "left_outer")
        .filter(col("mk").isNull || col("pkey") < col("mk"))
        .select(col("node"), col("pkey"))
    } { (st, newIn, _) =>
      val und = st("und")
      // no distinct: the left_semi/anti probes below ignore build-side
      // duplicates, and a distinct would pay an exchange inside every
      // round's broadcast-build job
      val outNodes = edges
        .join(broadcast(newIn.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node"))
      // newOut stays LAZY: it derives entirely from materialized
      // frames (und, newIn, the checkpointed edges), so its lineage is
      // bounded without a checkpoint — and its only consumer is the
      // final count aggregate after the schedule, so materializing it
      // per round would pay a checkpoint job whose rows are read once.
      val newOut = und
        .join(broadcast(outNodes), Seq("node"), "left_semi")
        .select(col("node"), col("pkey"))
      inDeltas += newIn
      outDeltas += newOut
      // ONE anti-join (one broadcast build) per round: retire
      // newIn ∪ N(newIn) together — anti-joining against nodes outside
      // `und` is a no-op, so this equals removing newIn, then newOut
      Map(
        "und" -> und
          .join(broadcast(newIn.select("node")
            .unionByName(outNodes)), Seq("node"), "left_anti"))
    }
    val empty = und0.limit(0)
    val inAcc = inDeltas.foldLeft(empty)(_.unionByName(_))
    val outAcc = outDeltas.foldLeft(empty)(_.unionByName(_))
    val und = st("und")
    def prOf(c: Column): Column = substring(c, 1, 10).cast("long")
    val inStats = inAcc.agg(count(lit(1)).as("n_in"),
      sum(prOf(col("pkey"))).as("in_pr_sum"),
      sum(when(col("node").startsWith("s"), 1L).otherwise(0L))
        .as("in_suppliers"))
    val outStats = outAcc.agg(count(lit(1)).as("n_out"))
    val undStats = und.agg(count(lit(1)).as("n_undecided"))
    (inStats.crossJoin(broadcast(outStats)).crossJoin(broadcast(undStats))
      .select(col("n_in"), col("n_out"), col("n_undecided"),
        col("in_pr_sum"), col("in_suppliers")),
      rounds)
  }

  /** [[defs]]' `sssp_weighted` body, returning (result, relaxation
    * rounds actually RUN) so SignalsSpec can gate the convergence exit.
    * Bellman–Ford over the weighted supplier↔part graph (w = min
    * integral quantity per edge): each round relaxes ONLY from the
    * frontier — the nodes whose distance improved last round — which
    * is distance-identical to full relaxation (any shorter path
    * through a non-improved node was already applied the round that
    * node improved) but joins a frontier-sized table instead of |V|.
    * Frontier broadcasts into the edge join (the [[bfsLevels]]
    * precedent: never re-shuffle the edge table); the min-merge with
    * the running distances is a keyed left join on candidate dsts
    * (≤ frontier-degree rows). Distances are exact BIGINT sums, so
    * the cross-engine compare is bit-exact. An empty frontier ends
    * the schedule: Bellman–Ford improvements are monotone, so every
    * later round is a no-op, and the 4-round oracle unroll still
    * matches.
    */
  private[graft] def ssspWeighted(s: SparkSession, dir: String): (DataFrame, Int) = {
    val li = t(s, dir, "lineitem")
    val ew = li.select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("sk", "pk").agg(min("q").as("w"))
    val edges = ew.select(
        concat(lit("s"), col("sk").cast("string")).as("src"),
        concat(lit("p"), col("pk").cast("string")).as("dst"), col("w"))
      .unionByName(ew.select(
        concat(lit("p"), col("pk").cast("string")).as("src"),
        concat(lit("s"), col("sk").cast("string")).as("dst"), col("w")))
      .localCheckpoint()
    val seed = "s" + li.agg(min("l_suppkey")).head().getLong(0)
    val dist0 = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(seed, 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("dist",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val (st, rounds) = graft.ops.IterateUntilFixed.frontier(
      Map("dist" -> dist0, "frontier" -> dist0), 4) { (st, _) =>
      val frontier = st("frontier")
      val cand = edges
        .join(broadcast(frontier), frontier("node") === edges("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("cd"))
      cand
        .join(st("dist").select(col("node"), col("dist").as("od")),
          Seq("node"), "left")
        .filter(col("od").isNull || col("cd") < col("od"))
        .select(col("node"), col("cd").as("dist"))
    } { (st, improved, _) =>
      Map(
        "dist" -> st("dist")
          .join(improved.select(col("node").as("inode")),
            col("node") === col("inode"), "left_anti")
          .unionByName(improved),
        "frontier" -> improved)
    }
    (st("dist").groupBy("dist").agg(count(lit(1)).as("n")).orderBy("dist"),
      rounds)
  }

  /** Support-2 co-purchase part graph and 3 synchronous min-tie LPA
    * rounds — shared by `label_propagation` (community sizes) and
    * `modularity_score` (community quality). Returns (canonical
    * p1<p2 edge list, symmetric (v,u) edge list, final (v, label)).
    * See the `label_propagation` registration for the determinism and
    * scale rationale.
    */
  private def lpaLabels(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val und = op.select(col("o"), col("p").as("p1"))
      .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("p1", "p2")
      .localCheckpoint() // consumed by sym edges + modularity's 3 readers
    val e = und.select(col("p1").as("v"), col("p2").as("u"))
      .unionByName(und.select(col("p2").as("v"), col("p1").as("u")))
    val labels0 = e.select(col("v")).distinct()
      .withColumn("label", col("v").cast("long"))
    val labels = graft.ops.IterateUntilFixed.fixed(
      Map("labels" -> labels0), 3) { (st, _) =>
      val cnt = e
        .join(st("labels").select(col("v").as("u"), col("label")), "u")
        .groupBy("v", "label").agg(count(lit(1)).as("c"))
      Map("labels" -> cnt.groupBy("v")
        .agg(max(struct(col("c").as("c"),
          (col("label") * lit(-1L)).as("nl"))).as("m"))
        .select(col("v"), (col("m.nl") * lit(-1L)).as("label")))
    }("labels")
    (und, e, labels)
  }

  /** Shared DuckDB CTE chain for the LPA family: support-2 co-purchase
    * edges (`pe` canonical, `e` symmetric) and three unrolled
    * synchronous min-tie rounds ending in `l3 (v, label)`.
    */
  private def lpaOracleCtes: String = {
    val base =
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pe AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT p1 AS v, p2 AS u FROM pe
        |  UNION ALL SELECT p2, p1 FROM pe),
        |l0 AS (SELECT DISTINCT v, CAST(v AS BIGINT) AS label FROM e)"""
        .stripMargin
    val rounds = (1 to 3).map { i =>
      s""",
         |c$i AS (SELECT e.v, l.label, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.u = l.v GROUP BY 1, 2),
         |m$i AS (SELECT v, max(c) AS mc FROM c$i GROUP BY v),
         |l$i AS MATERIALIZED (SELECT c.v, min(c.label) AS label
         |  FROM c$i c JOIN m$i m ON c.v = m.v AND c.c = m.mc
         |  GROUP BY c.v)""".stripMargin
    }.mkString
    base + rounds
  }

  val defs: Seq[QueryDef] = Seq(
    // Bounded-window EWMA per user over purchase values: weights α^o
    // (α = 0.5) over the last ≤7 observations, normalized by the
    // weights actually present (so early rows aren't biased toward 0).
    // The recursive EWMA has no window-function form; the scalable
    // spelling is the bounded 7-way explode (each observation CONTRIBUTES
    // forward to the next 7 row positions — map-only) + one keyed
    // aggregate, the same shape as rolling_distinct. Numerators quantize
    // to integer micro-units before the sum; denominators are exact
    // integers in units of 1/64 (α^o·64 = 2^(6−o)), so the final value
    // is ONE double chain over two exact integers. Ordering uses the
    // RAW int64 nanosecond timestamp (no µs truncation ties — the
    // funnel_ordered lesson) + event_id.
    QueryDef("ewma_smooth", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val rn = ev.select(col("user_id"), col("event_id"),
        row_number().over(w).as("rn"), col("value"))
      // each row's o=0 contribution carries its event_id, which both
      // tags the output row and marks rn2 positions that actually exist
      // (positions past a user's last row get only o>0 contributions) —
      // so ONE scan + ONE window + ONE aggregate, no join back against
      // a second window pass
      rn.select(col("user_id"), col("rn"), col("value"), col("event_id"),
          explode(sequence(lit(0), lit(6))).as("o"))
        .select(col("user_id"), (col("rn") + col("o")).as("rn2"),
          when(col("o") === 0, col("event_id")).as("eid"),
          bround(col("value") * pow(lit(0.5), col("o")) * lit(1000000.0))
            .cast("long").as("num_u"),
          pow(lit(2.0), lit(6) - col("o")).cast("long").as("den64"))
        .groupBy("user_id", "rn2")
        .agg(max("eid").as("event_id"),
          sum("num_u").as("num_micros"), sum("den64").as("den_64"))
        .filter(col("event_id").isNotNull)
        .select(col("user_id"), col("rn2").as("rn"), col("event_id"),
          col("num_micros"), col("den_64"),
          round(col("num_micros").cast("double") * lit(64.0) / col("den_64")
            / lit(1000000.0), 6).as("ewma"))
        .orderBy("user_id", "rn")
    },
      """WITH ev AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |con AS (
        |  SELECT user_id, rn + o AS rn2,
        |    CAST(round_even(value * pow(0.5, CAST(o AS DOUBLE))
        |      * 1000000.0, 0) AS BIGINT) AS num_u,
        |    CAST(pow(2.0, CAST(6 - o AS DOUBLE)) AS BIGINT) AS den64
        |  FROM ev, range(0, 7) t(o)),
        |agg AS (SELECT user_id, rn2,
        |    CAST(sum(num_u) AS BIGINT) AS num_micros,
        |    CAST(sum(den64) AS BIGINT) AS den_64
        |  FROM con GROUP BY 1, 2)
        |SELECT ev.user_id, ev.rn, ev.event_id, agg.num_micros, agg.den_64,
        |  round(CAST(agg.num_micros AS DOUBLE) * 64.0 / agg.den_64
        |    / 1000000.0, 6) AS ewma
        |FROM ev JOIN agg ON ev.user_id = agg.user_id AND ev.rn = agg.rn2
        |ORDER BY ev.user_id, ev.rn""".stripMargin),
    QueryDef("feature_hash", (s, dir) =>
      TextAnalysis.featureHashHistogram(t(s, dir, "documents")),
      // the shared 28-bit md5 bucket recipe (Dedup.hashBucket) for both
      // the bucket and the sign hash
      """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '\S+'))
        |    AS term FROM documents),
        |h AS (SELECT term,
        |    CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 64 AS bucket,
        |    CASE WHEN CAST('0x' || substr(md5('sign:' || term), 1, 7)
        |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM tk)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS occurrences,
        |  CAST(count(DISTINCT term) AS BIGINT) AS distinct_terms,
        |  CAST(sum(sgn) AS BIGINT) AS signed_sum
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin),
    QueryDef("bigram_logprob", (s, dir) =>
      Ranking.bigramDocLogprob(t(s, dir, "documents")),
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+')
        |    AS tk FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(tk) AS w FROM tk) GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
        |db AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM tk WHERE len(tk) >= 2),
        |bc AS (SELECT gram, CAST(count(*) AS BIGINT) AS c12,
        |    split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2
        |  FROM db GROUP BY 1),
        |lp AS (SELECT bc.gram,
        |    CAST(round_even(ln(0.9 * (CAST(bc.c12 AS DOUBLE) / u1.c)
        |      + 0.1 * (CAST(u2.c AS DOUBLE) / n.n)) * 1000000.0, 0)
        |      AS BIGINT) AS lp_micros
        |  FROM bc JOIN uni u1 ON bc.w1 = u1.w
        |    JOIN uni u2 ON bc.w2 = u2.w, n)
        |SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(lp.lp_micros) AS BIGINT) AS sum_lp_micros,
        |  round(CAST(sum(lp.lp_micros) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    AS avg_logprob
        |FROM db JOIN lp USING (gram)
        |GROUP BY db.doc_id ORDER BY avg_logprob, doc_id LIMIT 20""".stripMargin),
    // stupid-backoff trigram scoring on a held-out split — see
    // llm/Ranking.stupidBackoffScore for the tier semantics and the
    // distributed-LM citation (Brants et al. 2007)
    QueryDef("stupid_backoff", (s, dir) =>
      Ranking.stupidBackoffScore(t(s, dir, "documents")),
      // same tier arithmetic in DuckDB spelling: round_even ≙ bround,
      // ln ≙ log, nested 0.4·(0.4·x); the tier CASE mirrors the
      // null-guard structure so both engines take identical branches
      """WITH tk AS (SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '\S+') AS tk FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM (
        |    SELECT unnest(tk) AS w FROM tk WHERE source <> 'src0')
        |  GROUP BY 1),
        |nv AS (SELECT CAST(sum(c1) AS DOUBLE) AS n,
        |    CAST(count(*) AS DOUBLE) AS v FROM uni),
        |bi AS (SELECT g2, CAST(count(*) AS BIGINT) AS c2 FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS g2
        |    FROM tk WHERE source <> 'src0' AND len(tk) >= 2) GROUP BY 1),
        |tri AS (SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM (
        |    SELECT unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |    FROM tk WHERE source <> 'src0' AND len(tk) >= 3) GROUP BY 1),
        |dt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |    FROM tk WHERE source = 'src0' AND len(tk) >= 3) GROUP BY 1, 2),
        |grams AS (SELECT g,
        |    split_part(g, ' ', 1) || ' ' || split_part(g, ' ', 2) AS ctx,
        |    split_part(g, ' ', 2) || ' ' || split_part(g, ' ', 3) AS g23,
        |    split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3
        |  FROM (SELECT DISTINCT g FROM dt)),
        |sc AS (SELECT gr.g,
        |    CASE WHEN t.c3 IS NOT NULL THEN 3
        |         WHEN b2.c2 IS NOT NULL THEN 2 ELSE 1 END AS tier,
        |    CAST(round_even(ln(
        |      CASE WHEN t.c3 IS NOT NULL
        |        THEN CAST(t.c3 AS DOUBLE) / CAST(b1.c2 AS DOUBLE)
        |      WHEN b2.c2 IS NOT NULL
        |        THEN 0.4 * (CAST(b2.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
        |      ELSE 0.4 * (0.4 * ((CAST(coalesce(u3.c1, 0) AS DOUBLE) + 1.0)
        |        / (nv.n + nv.v))) END) * 1000000.0, 0) AS BIGINT)
        |      AS lp_micros
        |  FROM grams gr
        |  LEFT JOIN tri t ON gr.g = t.g
        |  LEFT JOIN bi b1 ON gr.ctx = b1.g2
        |  LEFT JOIN bi b2 ON gr.g23 = b2.g2
        |  LEFT JOIN uni u2 ON gr.w2 = u2.w
        |  LEFT JOIN uni u3 ON gr.w3 = u3.w, nv)
        |SELECT dt.doc_id, CAST(sum(dt.k) AS BIGINT) AS n_trigrams,
        |  CAST(sum(dt.k * sc.lp_micros) AS BIGINT) AS sum_lp_micros,
        |  CAST(sum(CASE WHEN sc.tier = 3 THEN dt.k ELSE 0 END) AS BIGINT)
        |    AS hits3,
        |  CAST(sum(CASE WHEN sc.tier = 2 THEN dt.k ELSE 0 END) AS BIGINT)
        |    AS hits2,
        |  CAST(sum(CASE WHEN sc.tier = 1 THEN dt.k ELSE 0 END) AS BIGINT)
        |    AS hits1,
        |  round(CAST(sum(dt.k * sc.lp_micros) AS DOUBLE) / sum(dt.k)
        |    / 1000000.0, 6) AS avg_logprob
        |FROM dt JOIN sc USING (g)
        |GROUP BY dt.doc_id ORDER BY avg_logprob, doc_id LIMIT 30"""
        .stripMargin),
    QueryDef("prefix_jaccard", (s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents")),
      // shingles carry as the shared 60-bit md5-prefix fingerprint (the
      // multimodal checksum recipe) in BOTH engines — see
      // Dedup.prefixJaccardPairs; the positional filter is Spark-side
      // only (it prunes candidates, never results, so the output is
      // identical without it)
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+')
        |    AS tk FROM documents),
        |tok AS (SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |    FROM tk WHERE len(tk) >= 3)),
        |df AS (SELECT gram, count(*) AS df FROM tok GROUP BY 1),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
        |rk AS (SELECT tok.doc_id, tok.gram, sz.sz,
        |    row_number() OVER (PARTITION BY tok.doc_id
        |      ORDER BY df.df, tok.gram) AS rn
        |  FROM tok JOIN df USING (gram) JOIN sz USING (doc_id)),
        |pre AS (SELECT doc_id, gram FROM rk
        |  WHERE rn <= sz - ceil(0.5 * sz) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pre a JOIN pre b
        |  ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c JOIN tok ta ON ta.doc_id = c.doc_a
        |    JOIN tok tb ON tb.doc_id = c.doc_b AND ta.gram = tb.gram
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, CAST(inter AS BIGINT) AS inter,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
        |    AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |  JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Winsorized per-group mean: clip to the exact [p05, p95] quantiles
    // before averaging — the robust-scaling complement to mad_outliers
    // (winsorizing bounds influence instead of discarding rows). Exact
    // grouped percentiles both times; clipped values quantize to
    // integer micro-units before the sum (order-independence contract).
    QueryDef("winsorize", (s, dir) => {
      val d = t(s, dir, "documents").select("lang", "n_chars")
      // bounds round to 4 dp on BOTH sides before any use: the two
      // engines' linear-interpolation chains can differ by 1 ulp, and
      // interpolated values of integer data carry ≤2 decimals, so the
      // 4-dp round is a fixpoint that absorbs the ulp
      val bounds = d.groupBy("lang")
        .agg(bround(expr("percentile(n_chars, 0.05)"), 4).as("lo"),
          bround(expr("percentile(n_chars, 0.95)"), 4).as("hi"))
      val x = col("n_chars").cast("double")
      d.join(broadcast(bounds), "lang")
        .select(col("lang"), col("lo"), col("hi"),
          bround(least(greatest(x, col("lo")), col("hi")) * lit(1000000.0))
            .cast("long").as("c_micros"),
          when(x < col("lo"), 1L).otherwise(0L).as("clip_lo"),
          when(x > col("hi"), 1L).otherwise(0L).as("clip_hi"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          max("lo").as("lo"), max("hi").as("hi"),
          sum("clip_lo").as("clipped_low"),
          sum("clip_hi").as("clipped_high"),
          sum("c_micros").as("sum_micros"))
        .select(col("lang"), col("n"), col("lo"), col("hi"),
          col("clipped_low"), col("clipped_high"),
          round(col("sum_micros").cast("double") / col("n") / lit(1000000.0),
            6).as("winsorized_mean"))
        .orderBy("lang")
    },
      """WITH b AS (SELECT lang,
        |    round_even(quantile_cont(n_chars, 0.05), 4) AS lo,
        |    round_even(quantile_cont(n_chars, 0.95), 4) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, count(*) AS n, max(b.lo) AS lo, max(b.hi) AS hi,
        |  CAST(sum(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_low,
        |  CAST(sum(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_high,
        |  round(CAST(sum(CAST(round_even(
        |      least(greatest(CAST(d.n_chars AS DOUBLE), b.lo), b.hi)
        |      * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0,
        |    6) AS winsorized_mean
        |FROM documents d JOIN b USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    // Weighted sampling without replacement (Efraimidis–Spirakis A-res):
    // each item draws u ∈ (0,1) and ranks by u^(1/w) — top-k is a
    // weighted sample; here u derives from the portable 28-bit md5
    // recipe (never rand() — reproducible across runs, engines, and
    // cluster layouts) and the rank key ln(u)/w is quantized to
    // nano-units so both engines sort identical integers. One map-only
    // pass + TakeOrdered: the canonical "sample 10k docs by quality
    // weight from 100 TB" one-shot.
    QueryDef("weighted_sample", (s, dir) => {
      val h = Dedup.hashBucket(
        concat(lit("ws:"), col("doc_id").cast("string")), 1L << 28)
      val u = (h.cast("double") + lit(0.5)) / lit(268435456.0)
      val key = bround(log(u) / col("n_chars").cast("double")
        * lit(1000000000.0)).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("weight"),
          key.as("key_nano"))
        .orderBy(col("key_nano").desc, col("doc_id"))
        .limit(20)
    },
      """WITH k AS (SELECT doc_id, n_chars AS weight,
        |    CAST(round_even(ln((CAST('0x' || substr(
        |        md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
        |        + 0.5) / 268435456.0)
        |      / n_chars * 1000000000.0, 0) AS BIGINT) AS key_nano
        |  FROM documents)
        |SELECT doc_id, weight, key_nano FROM k
        |ORDER BY key_nano DESC, doc_id LIMIT 20""".stripMargin),
    // Top user journeys: the most common opening event-type sequences
    // (first 3 events per user, in raw-ns time order — the ewma_smooth
    // tie lesson) — the path-analysis staple behind "how do users
    // actually start". One window pass, rank-pruned BEFORE the shuffle
    // (WindowGroupLimit), then a path-cardinality-sized count.
    // collect_list is order-nondeterministic, so the path string sorts
    // by rank inside the aggregate (array_sort on (rn, event_type)
    // structs), never by arrival order.
    QueryDef("top_journeys", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("users"))
        .orderBy(col("users").desc, col("path"))
        .limit(20)
    },
      """WITH e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
        |    AS path
        |  FROM e WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS users FROM p
        |GROUP BY path ORDER BY users DESC, path LIMIT 20""".stripMargin),
    // Per-column data profile of a table (the discovery counterpart to
    // dq_checks' constraint suite): null count, exact distinct count,
    // and canonical min/max per column, in ONE scan — a single
    // multi-distinct aggregate row unpivoted to (column, ...) rows.
    // Doubles canonicalize through DECIMAL(18,2)→string and timestamps
    // through integer day offsets so both engines print identical text.
    QueryDef("profile_table", (s, dir) => {
      // fanout: 6 per-column distinct aggregates over one unsplittable
      // scan partition (see GraftSession.fanout; 4.0 -> 2.7 s at sf0.1)
      val o = GraftSession.fanout(t(s, dir, "orders"))
      // min/max compute on the NATIVE type (string min would be
      // lexicographic), then canonicalize the scalar for display
      def prof(c: String, canon: Column => Column) = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        count_distinct(col(c)).as(s"${c}_distinct"),
        canon(min(col(c))).as(s"${c}_min"),
        canon(max(col(c))).as(s"${c}_max"))
      val asStr = (x: Column) => x.cast("string")
      val money = (x: Column) =>
        x.cast(org.apache.spark.sql.types.DecimalType(18, 2)).cast("string")
      val day = (x: Column) =>
        datediff(to_date(x), lit("2024-01-01").cast("date")).cast("string")
      val aggs =
        prof("o_orderkey", asStr) ++
        prof("o_custkey", asStr) ++
        prof("o_orderstatus", asStr) ++
        prof("o_totalprice", money) ++
        prof("o_orderpriority", asStr) ++
        prof("o_orderdate", day)
      val row = o.agg(aggs.head, aggs.tail: _*)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority", "o_orderdate")
      val stack = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
        .mkString(", ")
      row.selectExpr(s"stack(${cols.length}, $stack) " +
        "AS (column_name, n_nulls, n_distinct, min_val, max_val)")
        .orderBy("column_name")
    },
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_n,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS k_d,
        |  CAST(min(o_orderkey) AS VARCHAR) AS k_lo, CAST(max(o_orderkey) AS VARCHAR) AS k_hi,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_n,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS c_d,
        |  CAST(min(o_custkey) AS VARCHAR) AS c_lo, CAST(max(o_custkey) AS VARCHAR) AS c_hi,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_n,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS s_d,
        |  min(o_orderstatus) AS s_lo, max(o_orderstatus) AS s_hi,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_n,
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT) AS t_d,
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS t_lo,
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS t_hi,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_n,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS p_d,
        |  min(o_orderpriority) AS p_lo, max(o_orderpriority) AS p_hi,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_n,
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT) AS d_d,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(min(o_orderdate) AS DATE)) AS VARCHAR) AS d_lo,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(max(o_orderdate) AS DATE)) AS VARCHAR) AS d_hi
        |  FROM orders)
        |SELECT 'o_custkey' AS column_name, c_n AS n_nulls, c_d AS n_distinct, c_lo AS min_val, c_hi AS max_val FROM s
        |UNION ALL SELECT 'o_orderdate', d_n, d_d, d_lo, d_hi FROM s
        |UNION ALL SELECT 'o_orderkey', k_n, k_d, k_lo, k_hi FROM s
        |UNION ALL SELECT 'o_orderpriority', p_n, p_d, p_lo, p_hi FROM s
        |UNION ALL SELECT 'o_orderstatus', s_n, s_d, s_lo, s_hi FROM s
        |UNION ALL SELECT 'o_totalprice', t_n, t_d, t_lo, t_hi FROM s
        |ORDER BY column_name""".stripMargin),
    // Half-life decayed engagement score: Σ value·2^(−age_days/7) per
    // user, anchored to the corpus max day (broadcast 1-row) — the
    // time-decay counter behind trending/engagement ranking, distinct
    // from ewma_smooth's row-offset decay (age-based, irregular gaps
    // decay naturally). Per-event terms quantize to integer micro-units
    // before the per-user sum; the 2^(−Δ/7) chain is fixed and the 1e6
    // quantization absorbs cross-engine pow ulps (the ln precedent).
    QueryDef("decayed_sum", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      val ref = ev.agg(max("d").as("ref"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          bround(col("value") * pow(lit(2.0),
            (col("d") - col("ref")).cast("double") / lit(7.0))
            * lit(1000000.0)).cast("long").as("m"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("m").as("decayed_micros"))
        .orderBy(col("decayed_micros").desc, col("user_id"))
        .limit(20)
    },
      """WITH ev AS (SELECT user_id, value,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT max(d) AS ref FROM ev)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round_even(value
        |    * pow(2.0, CAST(d - r.ref AS DOUBLE) / 7.0)
        |    * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS decayed_micros
        |FROM ev, r GROUP BY user_id
        |ORDER BY decayed_micros DESC, user_id LIMIT 20""".stripMargin),
    // Deterministic negative sampling for contrastive training
    // (word2vec/CLIP-style): each doc draws 3 pseudo-random partners
    // via the portable md5 recipe mod the id-space size — never
    // rand(), so the pairing is reproducible across runs, engines, and
    // cluster layouts. Self-collisions drop; partners that miss (sparse
    // id space) drop at the inner join. The registered surface is the
    // (lang, partner-lang) pair matrix — it verifies both the hash
    // recipe and the partner join end to end. Map-only explode + one
    // keyed join + a tiny matrix aggregate.
    QueryDef("negative_sample", (s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.agg(max("doc_id")).head().getLong(0) + 1
      d.select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), lit(2))).as("i"))
        .withColumn("partner", graft.llm.Dedup.hashBucket(
          concat(lit("neg:"), col("i").cast("string"), lit(":"),
            col("doc_id").cast("string")), n))
        .filter(col("partner") =!= col("doc_id"))
        .join(d.select(col("doc_id").as("partner"),
          col("lang").as("p_lang")), Seq("partner"))
        .groupBy("lang", "p_lang").agg(count(lit(1)).as("pairs"))
        .orderBy("lang", "p_lang")
    },
      """WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |neg AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST('0x' || substr(md5('neg:' || CAST(i AS VARCHAR) || ':'
        |      || CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT) % n.n
        |      AS partner
        |  FROM documents d, range(0, 3) t(i), n)
        |SELECT a.lang, p.lang AS p_lang, CAST(count(*) AS BIGINT) AS pairs
        |FROM neg a JOIN documents p ON a.partner = p.doc_id
        |WHERE a.partner <> a.doc_id
        |GROUP BY 1, 2 ORDER BY a.lang, p_lang""".stripMargin),
    // Bounded k-hop BFS from a seed over the supplier↔part bipartite
    // graph: the level-synchronous frontier iteration (join frontier to
    // edges, anti-join the visited set, checkpoint, repeat) that every
    // distributed traversal (reachability, shortest unweighted path,
    // neighborhood sampling) reduces to. Complements dedup_cluster's
    // fixpoint CC and pagerank's weighted propagation: this is the
    // FRONTIER shape, where per-round state is (node, level) and the
    // watermark against re-expansion is the visited anti-join. Levels
    // are exact min-hop distances; DuckDB mirrors with a recursive CTE.
    QueryDef("bfs_levels", (s, dir) => bfsLevels(s, dir)._1,
      """WITH RECURSIVE lv(node, lvl) AS (
        |  SELECT 's' || CAST((SELECT min(l_suppkey) FROM lineitem)
        |    AS VARCHAR), 0
        |  UNION
        |  SELECT nxt, lvl + 1 FROM (
        |    SELECT CASE WHEN lv.node = 's' || CAST(e.sk AS VARCHAR)
        |        THEN 'p' || CAST(e.pk AS VARCHAR)
        |        ELSE 's' || CAST(e.sk AS VARCHAR) END AS nxt, lv.lvl AS lvl
        |    FROM lv JOIN (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |      FROM lineitem) e
        |      ON lv.node = 's' || CAST(e.sk AS VARCHAR)
        |      OR lv.node = 'p' || CAST(e.pk AS VARCHAR)
        |    WHERE lv.lvl < 4))
        |SELECT lvl, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT node, CAST(min(lvl) AS INT) AS lvl FROM lv GROUP BY node)
        |GROUP BY lvl ORDER BY lvl""".stripMargin),

    // Luby maximal independent set — the distributed symmetry-breaking
    // primitive; see [[misLuby]] (md5 priorities, strict string-tuple
    // minima, frontier-shaped rounds, 6-round schedule ≡ the oracle's
    // unroll)
    QueryDef("mis_luby", (s, dir) => misLuby(s, dir)._1,
      // six unrolled Luby rounds — the same schedule the engine runs
      // (early-exit rounds are empty selections and add nothing); the
      // zero-padded "pr:node" string IS the priority tuple on both
      // engines, so min()/< agree byte-for-byte
      {
        val base =
          """WITH ew AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
            |  FROM lineitem),
            |e AS MATERIALIZED (
            |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
            |    'p' || CAST(pk AS VARCHAR) AS dst FROM ew
            |  UNION ALL
            |  SELECT 'p' || CAST(pk AS VARCHAR),
            |    's' || CAST(sk AS VARCHAR) FROM ew),
            |u0 AS MATERIALIZED (SELECT node,
            |    concat(lpad(CAST(CAST('0x' || substr(md5('mis:' || node),
            |        1, 7) AS BIGINT) % 1000000000 AS VARCHAR), 10, '0'),
            |      ':', node) AS pkey
            |  FROM (SELECT DISTINCT src AS node FROM e))"""
            .stripMargin
        val rounds = (1 to 6).map { k =>
          s""",
             |mn_$k AS MATERIALIZED (SELECT e.src AS node, min(u2.pkey) AS mk
             |  FROM e JOIN u${k - 1} u1 ON e.src = u1.node
             |  JOIN u${k - 1} u2 ON e.dst = u2.node
             |  GROUP BY 1),
             |in_$k AS MATERIALIZED (SELECT u.node, u.pkey FROM u${k - 1} u
             |  LEFT JOIN mn_$k m ON u.node = m.node
             |  WHERE m.mk IS NULL OR u.pkey < m.mk),
             |out_$k AS MATERIALIZED (SELECT u.node, u.pkey FROM u${k - 1} u
             |  WHERE u.node IN (SELECT e.dst FROM e
             |    JOIN in_$k i ON e.src = i.node)),
             |u$k AS MATERIALIZED (SELECT u.node, u.pkey FROM u${k - 1} u
             |  WHERE u.node NOT IN (SELECT node FROM in_$k)
             |    AND u.node NOT IN (SELECT node FROM out_$k))""".stripMargin
        }.mkString
        val ins = (1 to 6).map(k => s"SELECT node, pkey FROM in_$k")
          .mkString(" UNION ALL ")
        val outs = (1 to 6).map(k => s"SELECT node FROM out_$k")
          .mkString(" UNION ALL ")
        s"""$base$rounds,
           |ins AS ($ins),
           |outs AS ($outs)
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM ins) AS n_in,
           |  (SELECT CAST(count(*) AS BIGINT) FROM outs) AS n_out,
           |  (SELECT CAST(count(*) AS BIGINT) FROM u6) AS n_undecided,
           |  (SELECT CAST(sum(CAST(substr(pkey, 1, 10) AS BIGINT))
           |    AS BIGINT) FROM ins) AS in_pr_sum,
           |  (SELECT CAST(sum(CASE WHEN node LIKE 's%' THEN 1 ELSE 0 END)
           |    AS BIGINT) FROM ins) AS in_suppliers""".stripMargin
      }),

    // Spatial radius join — the geo family's bucketed-not-all-pairs
    // shape: points (deterministic md5-derived lat∈[−60,60),
    // lon∈[−180,180) per customer — the testdata carries no
    // coordinates, so the geometry is hash-synthesized the same way
    // negative_sample synthesizes partners) bin into 3°×3° grid
    // cells, candidate pairs come from an EQUI-join of each point's
    // 5×5 neighbor-cell fan-out (2 cells ≥ the 300 km radius at the
    // worst-case 60° latitude, where one lon-degree is 55.66 km —
    // never a cross join), and the exact haversine refines. A pair
    // meets in exactly one target cell, so no dedup pass is needed;
    // antimeridian wrap is out of scope on both engines. Threshold
    // and ordering compare the 6-dp-ROUNDED distance so boundary
    // pairs can't flap across libm implementations. Readout: pair
    // count + the 20 closest pairs.
    QueryDef("geo_cell_join", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey").as("k"),
          (Dedup.hashBucket(concat(lit("lat:"),
              col("c_custkey").cast("string")), 120000L).cast("double")
            / lit(1000.0) - lit(60.0)).as("lat"),
          (Dedup.hashBucket(concat(lit("lon:"),
              col("c_custkey").cast("string")), 360000L).cast("double")
            / lit(1000.0) - lit(180.0)).as("lon"))
        .select(col("k"), col("lat"), col("lon"),
          floor(col("lon") / lit(3.0)).as("cx"),
          floor(col("lat") / lit(3.0)).as("cy"))
        .localCheckpoint() // probe fan-out + build side share it
      val offs = for (dx <- -2 to 2; dy <- -2 to 2)
        yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
      val cand = pts
        .select(col("k").as("a"), col("lat").as("lat1"),
          col("lon").as("lon1"), col("cx"), col("cy"),
          explode(array(offs: _*)).as("o"))
        .select(col("a"), col("lat1"), col("lon1"),
          (col("cx") + col("o.dx")).as("cx"),
          (col("cy") + col("o.dy")).as("cy"))
        .join(pts.select(col("k").as("b"), col("lat").as("lat2"),
          col("lon").as("lon2"), col("cx"), col("cy")), Seq("cx", "cy"))
        .filter(col("a") < col("b"))
      val rl1 = radians(col("lat1"))
      val rl2 = radians(col("lat2"))
      val s1 = sin((rl2 - rl1) / lit(2.0))
      val s2 = sin((radians(col("lon2")) - radians(col("lon1"))) / lit(2.0))
      val d = lit(2.0) * lit(6371.0) *
        asin(sqrt(s1 * s1 + cos(rl1) * cos(rl2) * (s2 * s2)))
      val pairs = cand
        .select(col("a"), col("b"), bround(d, 6).as("dist_km"))
        .filter(col("dist_km") <= lit(300.0))
        .localCheckpoint() // count + top-20 readout both consume it
      pairs.crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .select(col("n_pairs"), col("a"), col("b"), col("dist_km"))
        .orderBy(col("dist_km"), col("a"), col("b"))
        .limit(20)
    },
      // same md5 geometry; the neighbor fan-out becomes a ±2-cell
      // BETWEEN join (DuckDB's IEJoin — equivalent candidate set);
      // haversine mirrored node-for-node, thresholded on the round
      """WITH pts AS (SELECT c_custkey AS k,
        |    CAST(CAST('0x' || substr(md5('lat:'
        |        || CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 120000 AS DOUBLE) / 1000.0 - 60.0 AS lat,
        |    CAST(CAST('0x' || substr(md5('lon:'
        |        || CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 360000 AS DOUBLE) / 1000.0 - 180.0 AS lon
        |  FROM customer),
        |cp AS MATERIALIZED (SELECT k, lat, lon,
        |    CAST(floor(lon / 3.0) AS BIGINT) AS cx,
        |    CAST(floor(lat / 3.0) AS BIGINT) AS cy
        |  FROM pts),
        |prs AS MATERIALIZED (SELECT a.k AS a, b.k AS b,
        |    round_even(2.0 * 6371.0 * asin(sqrt(
        |      sin((radians(b.lat) - radians(a.lat)) / 2.0)
        |        * sin((radians(b.lat) - radians(a.lat)) / 2.0)
        |      + cos(radians(a.lat)) * cos(radians(b.lat))
        |        * (sin((radians(b.lon) - radians(a.lon)) / 2.0)
        |          * sin((radians(b.lon) - radians(a.lon)) / 2.0)))),
        |      6) AS dist_km
        |  FROM cp a JOIN cp b
        |  ON b.cx BETWEEN a.cx - 2 AND a.cx + 2
        |    AND b.cy BETWEEN a.cy - 2 AND a.cy + 2
        |    AND a.k < b.k),
        |hit AS (SELECT a, b, dist_km FROM prs WHERE dist_km <= 300.0)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_pairs,
        |  a, b, dist_km
        |FROM hit ORDER BY dist_km, a, b LIMIT 20""".stripMargin),

    // DBSCAN point census — the density-clustering triage (core /
    // border / noise) over the same hash-synthesized geometry family
    // as geo_cell_join, but on an INTEGER 1000×1000 grid so every
    // distance compare is exact ((Δx)²+(Δy)² ≤ ε², no libm): cells are
    // ε-sized (50), so the 3×3 neighbor fan-out provably covers the
    // ε-ball, candidates come from one equi-join on the cell key
    // (bucketed-not-all-pairs, the geo posture), and each ORDERED pair
    // meets exactly once (the probe side's own offset reaches the
    // build cell) so neighbor counts need no dedup. Core: ≥5 points
    // within ε including self; border: non-core with a core ε-neighbor
    // (one semi-join against the core set); noise: the rest. Readout =
    // the one-row census + core key checksum. At scale the grid
    // resolution is the knob: cells size to ε, density per cell stays
    // bounded, and the fan-out is a constant ×9 map-side explode.
    QueryDef("dbscan_core", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey").as("k"),
          graft.llm.Dedup.hashBucket(concat(lit("dbx:"),
            col("c_custkey").cast("string")), 1000L).as("ux"),
          graft.llm.Dedup.hashBucket(concat(lit("dby:"),
            col("c_custkey").cast("string")), 1000L).as("uy"))
        .select(col("k"), col("ux"), col("uy"),
          expr("CAST(ux DIV 50 AS BIGINT)").as("cx"),
          expr("CAST(uy DIV 50 AS BIGINT)").as("cy"))
        .localCheckpoint() // probe fan-out + build side share it
      val offs = for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
      val nbr = pts
        .select(col("k").as("a"), col("ux").as("xa"), col("uy").as("ya"),
          col("cx"), col("cy"), explode(array(offs: _*)).as("o"))
        .select(col("a"), col("xa"), col("ya"),
          (col("cx") + col("o.dx")).as("cx"),
          (col("cy") + col("o.dy")).as("cy"))
        .join(pts.select(col("k").as("b"), col("ux").as("xb"),
          col("uy").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
        .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(2500L))
        .select(col("a"), col("b"))
        .localCheckpoint() // counts + the border semi-join both read it
      val cnt = nbr.groupBy("a").agg(count(lit(1)).as("ncnt"))
      val core = cnt.filter(col("ncnt") >= 5).select(col("a").as("ck"))
        .localCheckpoint() // census + border probe
      val border = nbr.filter(col("a") =!= col("b"))
        .join(core.select(col("ck").as("b")), Seq("b"), "left_semi")
        .select(col("a")).distinct()
        .join(core.select(col("ck").as("a")), Seq("a"), "left_anti")
      val nAll = pts.agg(count(lit(1)).as("n_points"))
      val nCore = core.agg(count(lit(1)).as("n_core"),
        coalesce(sum("ck"), lit(0L)).as("core_key_sum"))
      val nBorder = border.agg(count(lit(1)).as("n_border"))
      nAll.crossJoin(broadcast(nCore)).crossJoin(broadcast(nBorder))
        .select(col("n_points"), col("n_core"), col("n_border"),
          (col("n_points") - col("n_core") - col("n_border"))
            .as("n_noise"),
          col("core_key_sum"))
    },
      // brute-force witness: an IEJoin range self-join on the raw integer
      // coordinates (no cells) — an independent derivation of the same
      // ε-neighborhoods the engine reaches through the 3×3 cell fan-out
      """WITH p AS MATERIALIZED (SELECT c_custkey AS k,
        |    CAST('0x' || substr(md5('dbx:'
        |      || CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 1000 AS ux,
        |    CAST('0x' || substr(md5('dby:'
        |      || CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 1000 AS uy
        |  FROM customer),
        |nbr AS MATERIALIZED (SELECT a.k AS a, b.k AS b
        |  FROM p a JOIN p b
        |  ON b.ux BETWEEN a.ux - 50 AND a.ux + 50
        |    AND b.uy BETWEEN a.uy - 50 AND a.uy + 50
        |    AND (a.ux - b.ux) * (a.ux - b.ux)
        |      + (a.uy - b.uy) * (a.uy - b.uy) <= 2500),
        |core AS MATERIALIZED (SELECT a AS ck FROM nbr GROUP BY a
        |  HAVING count(*) >= 5),
        |border AS (SELECT DISTINCT nbr.a FROM nbr
        |  WHERE nbr.a <> nbr.b
        |    AND nbr.b IN (SELECT ck FROM core)
        |    AND nbr.a NOT IN (SELECT ck FROM core))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_points,
        |  (SELECT CAST(count(*) AS BIGINT) FROM core) AS n_core,
        |  (SELECT CAST(count(*) AS BIGINT) FROM border) AS n_border,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM core)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM border) AS n_noise,
        |  (SELECT COALESCE(CAST(sum(ck) AS BIGINT), 0) FROM core)
        |    AS core_key_sum""".stripMargin),

    // Single-source shortest paths with WEIGHTS — the Bellman–Ford
    // frontier iteration (see [[ssspWeighted]]): per-round state is
    // (node, best-known dist), relaxation only fans out from nodes
    // that just improved, and the oracle unrolls the same four
    // min-plus rounds as materialized CTEs. Completes the traversal
    // family: bfs_levels is hop-count SSSP, this is the weighted
    // generalization every routing / cost-propagation query reduces
    // to. Readout: exact-integer distance histogram over all reached
    // nodes.
    QueryDef("sssp_weighted", (s, dir) => ssspWeighted(s, dir)._1,
      // four unrolled min-plus relaxation rounds, each a full relax of
      // the previous distance table — value-identical to the engine's
      // frontier Bellman–Ford (relaxing from non-improved nodes only
      // re-derives distances already merged in an earlier round)
      {
        val base =
          """WITH ew AS (SELECT l_suppkey AS sk, l_partkey AS pk,
            |    min(CAST(l_quantity AS BIGINT)) AS w
            |  FROM lineitem GROUP BY 1, 2),
            |e AS MATERIALIZED (
            |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
            |    'p' || CAST(pk AS VARCHAR) AS dst, w FROM ew
            |  UNION ALL
            |  SELECT 'p' || CAST(pk AS VARCHAR),
            |    's' || CAST(sk AS VARCHAR), w FROM ew),
            |d0 AS (SELECT 's' || CAST((SELECT min(l_suppkey) FROM lineitem)
            |    AS VARCHAR) AS node, CAST(0 AS BIGINT) AS dist)"""
            .stripMargin
        val rounds = (1 to 4).map { i =>
          s""",
             |d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT e.dst, d.dist + e.w FROM d${i - 1} d
             |    JOIN e ON d.node = e.src) GROUP BY 1)""".stripMargin
        }.mkString
        s"""$base$rounds
           |SELECT dist, CAST(count(*) AS BIGINT) AS n
           |FROM d4 GROUP BY 1 ORDER BY dist""".stripMargin
      }),

    // Spark 4's native RECURSIVE CTE on the shape it is built for: a
    // TREE walk (org chart / bill-of-materials), where UNION ALL
    // recursion is linear because every node has exactly one parent —
    // each iteration is one equi-join of the previous frontier against
    // the child table (UnionLoop in the plan; dedup-UNION recursion is
    // not supported in 4.1, which is also why [[bfsLevels]] keeps the
    // explicit frontier loop for GRAPHS, where UNION ALL would
    // enumerate paths, not nodes). The forest is deterministic from
    // supplier keys: parent(k) = k DIV 7, roots k < 7; depth is
    // log₇-bounded so the engine's recursion limit never nears.
    // Output: per-depth node count, key checksum, and per-root spread
    // — the readout a hierarchy rollup wants.
    QueryDef("recursive_tree", (s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("sup_rec")
      s.sql("""
        WITH RECURSIVE tree(k, root, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM sup_rec WHERE s_suppkey < 7
          UNION ALL
          SELECT c.s_suppkey, t.root, t.depth + 1
          FROM tree t JOIN sup_rec c
            ON c.s_suppkey DIV 7 = t.k AND c.s_suppkey >= 7)
        SELECT depth, count(*) AS n, sum(k) AS key_sum,
          count(DISTINCT root) AS n_roots
        FROM tree GROUP BY depth ORDER BY depth""")
    },
      // the same tree walk — DuckDB's recursive CTE has been the oracle
      // for the frontier loop (bfs_levels) all along; here both engines
      // run their NATIVE recursion
      """WITH RECURSIVE tree(k, root, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier WHERE s_suppkey < 7
        |  UNION ALL
        |  SELECT c.s_suppkey, t.root, t.depth + 1
        |  FROM tree t JOIN supplier c
        |    ON c.s_suppkey // 7 = t.k AND c.s_suppkey >= 7)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(count(DISTINCT root) AS BIGINT) AS n_roots
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin),
    // 2-D skyline (Pareto frontier) of orders: points not dominated in
    // (max price, min order day). Distributive, so the plan is the
    // scalable two-phase shape — a bucket-local skyline (parallel
    // windows over md5 buckets) prunes dominated points partition-side,
    // then the global pass runs on the tiny survivor set. Local
    // pruning cannot change the answer (dominance within any subset
    // implies global dominance), which is why the oracle may use the
    // plain one-pass spelling. Dominance is evaluated on DISTINCT
    // (price, day) points (ties collapse with a count), making the
    // running-min window test exactly Pareto.
    QueryDef("skyline", (s, dir) => {
      val pts = t(s, dir, "orders")
        .select(col("o_totalprice").as("price"),
          expr("datediff(to_date(o_orderdate), date'2024-01-01')").as("d"))
        .groupBy("price", "d").agg(count(lit(1)).as("n_orders"))
      val bucket = graft.llm.Dedup.hashBucket(
        concat(col("price").cast("string"), lit(":"), col("d").cast("string")),
        32L)
      val local = Window.partitionBy("bucket")
        .orderBy(col("price").desc, col("d").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val survivors = pts.withColumn("bucket", bucket)
        .withColumn("bp", min("d").over(local))
        .filter(col("bp").isNull || col("d") < col("bp"))
        .drop("bucket", "bp")
      val global = Window.orderBy(col("price").desc, col("d").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      survivors.withColumn("bp", min("d").over(global))
        .filter(col("bp").isNull || col("d") < col("bp"))
        .select(col("price"), col("d"), col("n_orders"))
        .orderBy(col("price").desc)
    },
      """WITH pts AS (
        |  SELECT o_totalprice AS price,
        |    date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))
        |      AS d,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT price, d, n_orders,
        |    min(d) OVER (ORDER BY price DESC, d ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bp
        |  FROM pts)
        |SELECT price, d, n_orders FROM r
        |WHERE bp IS NULL OR d < bp
        |ORDER BY price DESC""".stripMargin),
    // Order-independent table fingerprint: row count + SUM of per-row
    // 60-bit md5 fingerprints over a canonical column serialization —
    // the cross-engine/cross-copy validation primitive (does the
    // migrated/replicated/recomputed table hold the SAME ROWS?) that a
    // 100 TB pipeline runs after every backfill. Map-only + one scalar
    // aggregate; integer sum is order- and partitioning-independent by
    // construction, which is the whole point.
    QueryDef("table_checksum", (s, dir) => {
      val row = concat_ws("|", col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"), col("o_orderstatus"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast("string"),
        col("o_orderpriority"))
      // 60-bit fingerprints accumulate in DECIMAL(38,0): exact 128-bit
      // arithmetic in both engines, so the checksum never wraps — at
      // 2^40 rows the sum still has 28 bits of headroom
      t(s, dir, "orders")
        .select(Dedup.fingerprint60(row)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("fp"))
        .agg(count(lit(1)).as("n_rows"),
          // string, not DECIMAL(38,0): the sum exceeds 2^53, and the
          // driver's DuckDB→pandas bridge renders DECIMAL as float64
          // (lossy) while Spark's parquet decimal stays exact — the
          // values agree but the hashes differ. A decimal→string cast
          // is exact in both engines.
          sum("fp").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .cast("string").as("checksum"))
    },
      """WITH f AS (SELECT CAST('0x' || substr(md5(
        |      CAST(o_orderkey AS VARCHAR) || '|' ||
        |      CAST(o_custkey AS VARCHAR) || '|' ||
        |      o_orderstatus || '|' ||
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
        |      o_orderpriority), 1, 15) AS BIGINT) AS fp
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(fp AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |    AS VARCHAR) AS checksum
        |FROM f""".stripMargin),
    // Merkle partition tree over the orders table — table_checksum's
    // LOCATE-THE-DIFF upgrade: the flat checksum says two copies
    // differ, the tree says WHERE, in log₂(leaves) node compares
    // instead of a full rescan (the incremental-verification primitive
    // a 100 TB replication/backfill pipeline wants). Leaves = 16
    // hash-buckets of order keys, each an order-independent 60-bit-
    // fingerprint SUM folded into 60 bits (DECIMAL(38,0) exact before
    // the fold, same row serialization as table_checksum so the two
    // gates share one canonical form); empty buckets pin to 0 off a
    // generated grid. Internal nodes = md5 fingerprint of "left:right"
    // — four tiny pair-fold aggregates over ≤16 rows. Readout: all 31
    // nodes (level, idx, hash).
    QueryDef("merkle_tree", (s, dir) => {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val row = concat_ws("|", col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"), col("o_orderstatus"),
        col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast("string"),
        col("o_orderpriority"))
      val leafAgg = t(s, dir, "orders")
        .select(Dedup.hashBucket(col("o_orderkey").cast("string"), 16L)
          .as("idx"), Dedup.fingerprint60(row).cast(dec38).as("fp"))
        .groupBy("idx")
        .agg(expr("CAST(CAST(sum(fp) AS DECIMAL(38,0))" +
          " % 1152921504606846976 AS BIGINT)").as("node"))
      val l0 = s.range(0, 16).select(col("id").as("idx"))
        .join(leafAgg, Seq("idx"), "left_outer")
        .select(col("idx"), coalesce(col("node"), lit(0L)).as("node"))
      def up(df: DataFrame): DataFrame = df
        .groupBy(expr("CAST(idx DIV 2 AS BIGINT)").as("gidx"))
        .agg(Dedup.fingerprint60(concat(
          max(when(expr("idx % 2") === 0, col("node"))).cast("string"),
          lit(":"),
          max(when(expr("idx % 2") === 1, col("node"))).cast("string")))
          .as("node"))
        .select(col("gidx").as("idx"), col("node"))
      val l1 = up(l0); val l2 = up(l1); val l3 = up(l2); val l4 = up(l3)
      Seq(0 -> l0, 1 -> l1, 2 -> l2, 3 -> l3, 4 -> l4)
        .map { case (lv, df) =>
          df.select(lit(lv.toLong).as("level"), col("idx"), col("node")) }
        .reduce(_ unionByName _)
        .orderBy("level", "idx")
    },
      // generated level-by-level pair folds; leaf sums in HUGEINT before
      // the 60-bit fold, same row serialization as table_checksum
      {
        val base =
          """WITH f AS (SELECT
            |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
            |      1, 7) AS BIGINT) % 16 AS idx,
            |    CAST('0x' || substr(md5(
            |      CAST(o_orderkey AS VARCHAR) || '|' ||
            |      CAST(o_custkey AS VARCHAR) || '|' ||
            |      o_orderstatus || '|' ||
            |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) ||
            |      '|' || o_orderpriority), 1, 15) AS BIGINT) AS fp
            |  FROM orders),
            |la AS (SELECT idx,
            |    CAST(CAST(sum(CAST(fp AS DECIMAL(38,0))) AS HUGEINT)
            |      % 1152921504606846976 AS BIGINT) AS node
            |  FROM f GROUP BY 1),
            |l0 AS (SELECT g.idx AS idx, COALESCE(la.node, 0) AS node
            |  FROM range(0, 16) g(idx) LEFT JOIN la ON g.idx = la.idx)"""
            .stripMargin
        val ups = (1 to 4).map { k =>
          s""",
             |l$k AS (SELECT idx // 2 AS idx, CAST('0x' || substr(md5(
             |    CAST(max(CASE WHEN idx % 2 = 0 THEN node END)
             |      AS VARCHAR) || ':' ||
             |    CAST(max(CASE WHEN idx % 2 = 1 THEN node END)
             |      AS VARCHAR)), 1, 15) AS BIGINT) AS node
             |  FROM l${k - 1} GROUP BY 1)""".stripMargin
        }.mkString
        val sel = (0 to 4).map(k =>
          s"SELECT CAST($k AS BIGINT) AS level, idx, node FROM l$k")
          .mkString(" UNION ALL ")
        s"""$base$ups
           |$sel
           |ORDER BY level, idx""".stripMargin
      }),

    // K-anonymity audit over the (lang, source) quasi-identifier pair:
    // the distribution of equivalence-class sizes and the smallest
    // class (= the k in k-anonymity). The re-identification-risk
    // counterpart to pii_scrub's content scrubbing: classes of size 1
    // are singled-out individuals. Two tiny keyed aggregates.
    QueryDef("kanonymity", (s, dir) => {
      val cls = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("k"))
      cls.agg(
        count(lit(1)).as("classes"),
        min("k").as("k_anonymity"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("singletons"),
        sum(when(col("k") < 5, col("k")).otherwise(0L))
          .as("rows_below_k5"))
    },
      """WITH cls AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS k
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS classes,
        |  CAST(min(k) AS BIGINT) AS k_anonymity,
        |  CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS singletons,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_below_k5
        |FROM cls""".stripMargin),
    // Triangle census of the co-purchase graph: parts sharing an order,
    // kept only at support ≥ 2 (the market-basket frequency threshold
    // that keeps the projected graph sparse — 1.2M → 3.6k edges at
    // sf0.1). Edges orient p1 < p2, so each triangle a<b<c closes
    // exactly once via (a,b)(b,c)+(a,c); wedges come from the degree
    // aggregate Σ C(deg,2) and the global clustering coefficient
    // 3·tri/wedges is micro-quantized. The oriented closure join is the
    // standard distributed triangle shape (two keyed equi-joins, no
    // per-node neighbor lists).
    QueryDef("triangle_count", (s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e = op.select(col("o"), col("p").as("p1"))
        .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select("p1", "p2")
        .localCheckpoint() // three consumers: two closure sides + degrees
      val deg = e.select(col("p1").as("v")).unionByName(
          e.select(col("p2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val wedges = deg.agg(
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("wedges"))
      val tri = e.select(col("p1").as("a"), col("p2").as("b"))
        .join(e.select(col("p1").as("b"), col("p2").as("c")), Seq("b"))
        .join(e.select(col("p1").as("a"), col("p2").as("c")),
          Seq("a", "c"), "left_semi")
        .agg(count(lit(1)).as("triangles"))
      val edges = e.agg(count(lit(1)).as("edges"))
      edges.crossJoin(wedges).crossJoin(tri)
        .select(col("edges"), col("wedges"), col("triangles"),
          when(col("wedges") > 0,
            bround(lit(3.0) * col("triangles").cast("double")
              / col("wedges").cast("double") * lit(1000000.0)).cast("long"))
            .otherwise(0L).as("clustering_micros"))
    },
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT a.p AS p1, b.p AS p2
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, count(*) AS deg FROM (
        |    SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
        |w AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS wedges
        |  FROM deg),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS triangles
        |  FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
        |  WHERE EXISTS (SELECT 1 FROM e e3
        |    WHERE e3.p1 = e1.p1 AND e3.p2 = e2.p2)),
        |ed AS (SELECT CAST(count(*) AS BIGINT) AS edges FROM e)
        |SELECT ed.edges, w.wedges, tri.triangles,
        |  CASE WHEN w.wedges > 0 THEN
        |    CAST(round_even(3.0 * tri.triangles / w.wedges * 1000000.0, 0)
        |      AS BIGINT) ELSE 0 END AS clustering_micros
        |FROM ed, w, tri""".stripMargin),

    // Bounded-round k-core peeling (k=3) of the same co-purchase graph:
    // repeatedly delete vertices of degree < k — the standard sparsifier
    // before community/influence analysis, and the "hub extraction" move
    // of a web-graph curation pass. Each round is one degree hash-agg +
    // two left-semi joins, with the shrinking edge set localCheckpointed
    // so round r+1 reads materialized state instead of replaying rounds
    // 0..r (the connected_components lesson). Rounds are FIXED at 3 —
    // the oracle unrolls the same three rounds symbolically — and the
    // per-round (vertices, edges) trajectory is the result: convergence
    // shows as a repeated row, and a production full peel loops the same
    // body until the count fixpoints.
    QueryDef("kcore_decompose", (s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      def stats(rnd: Int, df: DataFrame): DataFrame =
        df.select(col("p1").as("v"))
          .unionByName(df.select(col("p2").as("v")))
          .agg(countDistinct("v").as("n_vertices"),
            (count(lit(1)) / 2).cast("long").as("n_edges"))
          .select(lit(rnd).as("rnd"), col("n_vertices"), col("n_edges"))
      val e0 = op.select(col("o"), col("p").as("p1"))
        .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("p1", "p2")
        .localCheckpoint()
      // trajectory rows accumulate driver-side over the checkpointed
      // per-round edge sets (the mis_luby accumulator pattern): as a
      // state frame, `out` would be re-checkpointed union-so-far each
      // round — one extra job per round for a ≤4-row frame
      val rows = scala.collection.mutable.ArrayBuffer(stats(0, e0))
      graft.ops.IterateUntilFixed.fixed(Map("e" -> e0), 3) { (st, r) =>
        val e = st("e")
        val keep = e.select(col("p1").as("v"))
          .unionByName(e.select(col("p2").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= 3).select("v")
        // pre-checkpointed: next round's peel AND this round's stats row
        val e2 = e.join(keep.withColumnRenamed("v", "p1"), Seq("p1"), "left_semi")
          .join(keep.withColumnRenamed("v", "p2"), Seq("p2"), "left_semi")
          .select("p1", "p2")
          .localCheckpoint()
        rows += stats(r, e2)
        Map("e" -> e2)
      }
      rows.reduce(_.unionByName(_)).orderBy("rnd")
    },
      // the same three peel rounds, unrolled symbolically (generated, so
      // the round count can't desync between engines)
      {
        val base =
          """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            |  FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
            |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
            |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""",
             |d$i AS MATERIALIZED (SELECT v, count(*) AS dg FROM (
             |    SELECT p1 AS v FROM e${i - 1}
             |    UNION ALL SELECT p2 FROM e${i - 1}) GROUP BY 1),
             |k$i AS (SELECT v FROM d$i WHERE dg >= 3),
             |e$i AS MATERIALIZED (SELECT e.p1, e.p2 FROM e${i - 1} e
             |  JOIN k$i ka ON ka.v = e.p1
             |  JOIN k$i kb ON kb.v = e.p2)""".stripMargin
        }.mkString
        val stats = (0 to 3).map { i =>
          s"""SELECT CAST($i AS INT) AS rnd,
             |  CAST(count(DISTINCT v) AS BIGINT) AS n_vertices,
             |  CAST(count(*) // 2 AS BIGINT) AS n_edges
             |FROM (SELECT p1 AS v FROM e$i UNION ALL SELECT p2 FROM e$i)"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"$base$rounds\n$stats\nORDER BY rnd"
      }),

    // Bounded-round k-truss peeling (k=4: every edge must sit in ≥ 2
    // triangles) of the same support-2 co-purchase graph — the
    // EDGE-centric cohesion sparsifier next to kcore_decompose's
    // vertex peeling (a 4-truss is strictly denser than a 3-core;
    // trusses are the standard community-seed extractor at web scale).
    // Per round: one oriented closure join emits each triangle a<b<c
    // once, Σsupp = 3·triangles folds the census out of the SAME
    // aggregate that peels (no second pass), and edges below support
    // drop via left-semi. 3 synchronous rounds (kcore's fixed-schedule
    // contract: convergence shows as a repeated trajectory row), state
    // localCheckpointed per round.
    QueryDef("ktruss_edges", (s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e0 = op.select(col("o"), col("p").as("p1"))
        .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("p1", "p2")
        .localCheckpoint()
      // trajectory rows accumulate driver-side (the kcore pattern)
      val rows = scala.collection.mutable.ArrayBuffer[DataFrame]()
      graft.ops.IterateUntilFixed.fixed(Map("e" -> e0), 3) { (st, r) =>
        val e = st("e")
        val tri = e.select(col("p1").as("a"), col("p2").as("b"))
          .join(e.select(col("p1").as("b"), col("p2").as("c")), Seq("b"))
          .join(e.select(col("p1").as("a"), col("p2").as("c")),
            Seq("a", "c"))
        val supp = tri.select(col("a").as("x"), col("b").as("y"))
          .unionByName(tri.select(col("b").as("x"), col("c").as("y")))
          .unionByName(tri.select(col("a").as("x"), col("c").as("y")))
          .groupBy("x", "y").agg(count(lit(1)).as("supp"))
          .localCheckpoint() // feeds the census AND the peel
        // pre-checkpointed: next round's closure AND this round's row
        val e2 = e.join(
            supp.filter(col("supp") >= 2)
              .select(col("x").as("p1"), col("y").as("p2")),
            Seq("p1", "p2"), "left_semi")
          .localCheckpoint()
        rows += e2.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(supp.agg(
            (coalesce(sum("supp"), lit(0L)) / lit(3)).cast("long")
              .as("n_triangles"))))
          .select(lit(r).as("rnd"), col("n_triangles"), col("n_edges"))
        Map("e" -> e2)
      }
      rows.reduce(_.unionByName(_)).orderBy("rnd")
    },
      // same generated-unroll discipline as kcore_decompose; triangle
      // census from Σsupp // 3 of the same support table that peels
      {
        val base =
          """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            |  FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
            |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
            |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""",
             |t$i AS (SELECT ab.p1 AS a, ab.p2 AS b, bc.p2 AS c
             |  FROM e${i - 1} ab JOIN e${i - 1} bc ON ab.p2 = bc.p1
             |  JOIN e${i - 1} ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2),
             |s$i AS MATERIALIZED (SELECT x, y, count(*) AS supp FROM (
             |    SELECT a AS x, b AS y FROM t$i
             |    UNION ALL SELECT b, c FROM t$i
             |    UNION ALL SELECT a, c FROM t$i) GROUP BY 1, 2),
             |e$i AS MATERIALIZED (SELECT p1, p2 FROM e${i - 1}
             |  WHERE EXISTS (SELECT 1 FROM s$i
             |    WHERE x = p1 AND y = p2 AND supp >= 2))""".stripMargin
        }.mkString
        val stats = (1 to 3).map { i =>
          s"""SELECT CAST($i AS INT) AS rnd,
             |  CAST(coalesce((SELECT sum(supp) FROM s$i), 0) // 3
             |    AS BIGINT) AS n_triangles,
             |  (SELECT CAST(count(*) AS BIGINT) FROM e$i) AS n_edges"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"$base$rounds\n$stats\nORDER BY rnd"
      }),

    // Label propagation community detection (Raghavan, Albert, Kumara
    // 2007) on the same support-2 co-purchase part graph as
    // `kcore_decompose`/`triangle_count` — the COMMUNITY member of the
    // graph family (connected_components finds reachability classes;
    // LPA splits them along dense sub-structure). Three SYNCHRONOUS
    // rounds: every vertex adopts the most frequent label among its
    // neighbors, ties broken to the SMALLEST label — both choices are
    // what make distributed LPA deterministic (async update order and
    // random tie-breaks, the textbook defaults, are not replayable;
    // sync + min-tie is, and is the BSP form a 1000-executor run uses
    // anyway). Scale shape per round: one |E|-sized equi-join onto the
    // label table + two keyed aggregates (count, argmax) — the same
    // keyed-shuffle budget as a pagerank step; argmax is
    // max(struct(count, −label)), no window, no global sort. Edge list
    // and per-round labels localCheckpoint (the kcore/pagerank
    // precedent for iteration state).
    QueryDef("label_propagation", (s, dir) => {
      val (_, _, labels) = lpaLabels(s, dir)
      labels.groupBy("label")
        .agg(count(lit(1)).as("members"))
        .orderBy(col("members").desc, col("label"))
        .limit(20)
    },
      // three unrolled synchronous LPA rounds; argmax-with-min-tie is
      // spelled as (max count per vertex) ⋈ (min label at that count) —
      // an independent derivation of the engine's max(struct(c, −label))
      s"""$lpaOracleCtes
         |SELECT label, CAST(count(*) AS BIGINT) AS members
         |FROM l3 GROUP BY 1
         |ORDER BY members DESC, label LIMIT 20""".stripMargin),

    // Newman–Girvan modularity of the LPA communities — the standard
    // "are these real communities?" score (Q = Σ_c [L_c/m − (D_c/2m)²];
    // random graphs score ≈ 0, strong structure 0.3-0.7), computed over
    // exact integer witnesses (intra-edge counts, degree sums, m). The
    // per-community contribution quantizes to micros INDIVIDUALLY and
    // the global Q is their integer sum — no cross-community float
    // summation, so the result is partitioning- and order-free in both
    // engines. Scale shape: two label joins onto the canonical edge
    // list + three keyed aggregates; community count ≤ vertex count,
    // everything after the joins is community-sized.
    QueryDef("modularity_score", (s, dir) => {
      val (und, _, labels) = lpaLabels(s, dir)
      val mTot = und.agg(count(lit(1)).as("m"))
      val intra = und
        .join(labels.select(col("v").as("p1"), col("label").as("la")), "p1")
        .join(labels.select(col("v").as("p2"), col("label").as("lb")), "p2")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
      // members and degree_sum fused into ONE pass over labels⋈deg
      // (one wide aggregate instead of two readers): every labeled
      // vertex comes from the edge list, so the inner deg join keeps
      // exactly the labeled rows, and count/sum read off the same
      // joined row.
      val deg = und.select(col("p1").as("v"))
        .unionByName(und.select(col("p2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val vstats = labels.join(deg, "v")
        .groupBy("label").agg(count(lit(1)).as("members"),
          sum("deg").as("degree_sum"))
      val md = col("m").cast("double")
      val dd = col("degree_sum").cast("double") / (lit(2.0) * md)
      val contrib = vstats
        .join(intra, Seq("label"), "left")
        .crossJoin(broadcast(mTot))
        .select(col("label"), col("members"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("degree_sum"),
          bround((coalesce(col("intra_edges"), lit(0L)).cast("double") / md
            - dd * dd) * lit(1000000.0)).cast("long").as("q_contrib_micros"))
        .localCheckpoint() // global sum + top-10 readout both consume it
      val globalQ = contrib.agg(sum("q_contrib_micros").as("global_q_micros"))
      contrib.crossJoin(broadcast(globalQ))
        .orderBy(col("members").desc, col("label"))
        .limit(10)
    },
      // same LPA CTEs, then Q = Σ_c [L_c/m − (D_c/2m)²] with each
      // community term quantized to micros before the integer global sum
      s"""$lpaOracleCtes,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pe),
         |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS members
         |  FROM l3 GROUP BY 1),
         |intra AS (SELECT la.label, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM pe JOIN l3 la ON pe.p1 = la.v JOIN l3 lb ON pe.p2 = lb.v
         |  WHERE la.label = lb.label GROUP BY 1),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |    SELECT p1 AS v FROM pe UNION ALL SELECT p2 FROM pe)
         |  GROUP BY 1),
         |ds AS (SELECT l3.label, CAST(sum(deg.deg) AS BIGINT) AS degree_sum
         |  FROM deg JOIN l3 ON deg.v = l3.v GROUP BY 1),
         |contrib AS (SELECT s.label, s.members,
         |    coalesce(i.intra_edges, 0) AS intra_edges, ds.degree_sum,
         |    CAST(round_even((CAST(coalesce(i.intra_edges, 0) AS DOUBLE)
         |        / CAST(m.m AS DOUBLE)
         |      - (CAST(ds.degree_sum AS DOUBLE)
         |          / (2.0 * CAST(m.m AS DOUBLE)))
         |        * (CAST(ds.degree_sum AS DOUBLE)
         |          / (2.0 * CAST(m.m AS DOUBLE)))) * 1000000.0, 0)
         |      AS BIGINT) AS q_contrib_micros
         |  FROM sizes s LEFT JOIN intra i ON s.label = i.label
         |    JOIN ds ON s.label = ds.label, m),
         |g AS (SELECT CAST(sum(q_contrib_micros) AS BIGINT)
         |    AS global_q_micros FROM contrib)
         |SELECT c.label, c.members, c.intra_edges, c.degree_sum,
         |  c.q_contrib_micros, g.global_q_micros
         |FROM contrib c, g
         |ORDER BY c.members DESC, c.label LIMIT 10""".stripMargin),

    // DSIR data selection (Xie et al. 2023): importance weights of the
    // raw pool (source != src0) against the src0 target domain, hashed
    // unigram+bigram features in 1024 md5 buckets, top-50 by weight.
    // See llm/Ranking.dsirWeights for the scale/determinism story.
    QueryDef("dsir_select", (s, dir) =>
      Ranking.dsirWeights(GraftSession.fanout(t(s, dir, "documents"))),
      """WITH tk AS (SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '\S+') AS tk FROM documents),
        |f0 AS (
        |  SELECT doc_id, source, unnest(tk) AS gram FROM tk
        |  UNION ALL
        |  SELECT doc_id, source, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM tk WHERE len(tk) >= 2),
        |f AS (SELECT doc_id, source,
        |    CAST('0x' || substr(md5(gram), 1, 7) AS BIGINT) % 1024 AS b
        |  FROM f0),
        |bc AS (SELECT b,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt,
        |    CAST(sum(cr) AS DOUBLE) AS nr FROM bc),
        |lr AS (SELECT b, CAST(round_even(
        |    (ln((CAST(ct AS DOUBLE) + 1.0) / (nt + 1024.0))
        |     - ln((CAST(cr AS DOUBLE) + 1.0) / (nr + 1024.0)))
        |    * 1000000.0, 0) AS BIGINT) AS lr_micros
        |  FROM bc, tot),
        |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |  FROM f WHERE source <> 'src0' GROUP BY 1, 2)
        |SELECT dc.doc_id,
        |  CAST(sum(dc.c) AS BIGINT) AS n_feats,
        |  CAST(sum(dc.c * lr.lr_micros) AS BIGINT) AS logw_micros,
        |  round(CAST(sum(dc.c * lr.lr_micros) AS DOUBLE) / 1000000.0, 6)
        |    AS logw
        |FROM dc JOIN lr USING (b)
        |GROUP BY 1 ORDER BY logw_micros DESC, doc_id LIMIT 50""".stripMargin),

    // Corpus drift: per-language KL(slice || corpus) of unigram
    // distributions, add-one smoothed over the corpus vocabulary.
    // See llm/TextAnalysis.unigramKlDrift.
    QueryDef("kl_drift", (s, dir) =>
      TextAnalysis.unigramKlDrift(
        GraftSession.fanout(t(s, dir, "documents"))),
      """WITH tok AS (SELECT lang AS slice,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |  FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
        |    CAST(count(*) AS BIGINT) AS vsz FROM v),
        |lc AS (SELECT slice, w, CAST(count(*) AS BIGINT) AS cl
        |  FROM tok GROUP BY 1, 2),
        |nl AS (SELECT slice, CAST(count(*) AS BIGINT) AS nl
        |  FROM tok GROUP BY 1),
        |grid AS (SELECT nl.slice, v.w, v.c, coalesce(lc.cl, 0) AS cl,
        |    nl.nl, n.n, n.vsz
        |  FROM nl CROSS JOIN v
        |  LEFT JOIN lc ON lc.slice = nl.slice AND lc.w = v.w, n),
        |contrib AS (SELECT slice, nl, vsz, CAST(round_even(
        |    ((CAST(cl AS DOUBLE) + 1.0)
        |      / (CAST(nl AS DOUBLE) + CAST(vsz AS DOUBLE)))
        |    * ln(((CAST(cl AS DOUBLE) + 1.0)
        |        / (CAST(nl AS DOUBLE) + CAST(vsz AS DOUBLE)))
        |      / (CAST(c AS DOUBLE) / n)) * 1000000000000.0, 0)
        |    AS BIGINT) AS k_picos
        |  FROM grid)
        |SELECT slice, CAST(min(nl) AS BIGINT) AS n_tokens,
        |  CAST(min(vsz) AS BIGINT) AS vocab_size,
        |  CAST(sum(k_picos) AS BIGINT) AS kl_picos,
        |  round(CAST(sum(k_picos) AS DOUBLE) / 1000000000000.0, 6)
        |    AS kl_nats
        |FROM contrib GROUP BY 1 ORDER BY slice""".stripMargin),

    // Poisson bootstrap CIs (Chamandy et al. 2012, "Estimating
    // Uncertainty for Massive Data Streams"): per-priority mean order
    // value with a ~95% resampling interval. The classic bootstrap
    // resamples n rows WITH replacement R times — impossible
    // distributed (each replicate needs global coordination); the
    // Poisson approximation gives every (row, replicate) an
    // INDEPENDENT Poisson(1) multiplicity, so the whole thing is one
    // map-side explode (×R) + one (grp, r)-keyed aggregate that
    // partial-combines to |groups|·R rows before the shuffle — THE
    // uncertainty method at 100 TB, where a second pass over the data
    // costs more than the analysis. Multiplicities come from the
    // shared 28-bit md5 recipe compared against integer thresholds
    // floor(cdf_k·2^28) (identical literals in the oracle), so both
    // engines draw the same replicates. Replicate means quantize to
    // micro-units; the interval is an EXACT order statistic (ranks 2
    // and R−1 of R=48, ties broken by replicate id) — no engine-
    // specific quantile interpolation. Replicate sums run in
    // DECIMAL(18,2)·w, exact and order-independent.
    QueryDef("bootstrap_ci", (s, dir) => {
      val R = 48
      // Poisson(1) CDF thresholds at 28 bits: floor(e^{-1}·Σ 1/k!·2^28)
      val thr = Seq(98751885L, 197503771L, 246879713L, 263338361L,
        267453023L, 268275955L, 268413111L, 268432704L, 268435153L)
      // fanout: the ×R fan-out would otherwise serialize 7.2M
      // md5+decimal ops on one unsplittable scan partition (measured
      // 10.2 s vs 1.6 s at sf0.1 — see GraftSession.fanout)
      val o = GraftSession.fanout(t(s, dir, "orders")).select(
        col("o_orderpriority").as("grp"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("x"))
      // h28 materializes as its own column BEFORE the CASE chain:
      // branch conditions after the first evaluate conditionally, so
      // codegen's subexpression elimination can NOT hoist the md5 out
      // of them — inlining h in every branch pays up to 10 digests per
      // row (measured 9.8 s for the query at sf0.1; 2.6 s hoisted)
      val h = Dedup.hashBucket(concat(lit("boot:"), col("r").cast("string"),
        lit(":"), col("o_orderkey").cast("string")), 1L << 28)
      val hc = col("h28")
      val w = thr.tail.zipWithIndex.foldLeft(when(hc < lit(thr.head), 0)) {
        case (acc, (tk, k)) => acc.when(hc < lit(tk), k + 1)
      }.otherwise(9)
      val means = o
        .select(col("grp"), col("o_orderkey"), col("x"),
          explode(sequence(lit(0), lit(R - 1))).as("r"))
        .select(col("grp"), col("r"), h.as("h28"), col("x"))
        .select(col("grp"), col("r"), w.as("w"), col("x"))
        .groupBy("grp", "r")
        .agg(sum("w").as("sw"), sum(col("w") * col("x")).as("swx"))
        .filter(col("sw") > 0)
        .select(col("grp"), col("r"),
          bround(col("swx").cast("double") / col("sw").cast("double")
            * lit(1000000.0)).cast("long").as("m"))
      val rk = Window.partitionBy("grp").orderBy(col("m"), col("r"))
      val ci = means.select(col("grp"), col("m"),
          row_number().over(rk).as("rn"))
        .groupBy("grp").agg(
          max(when(col("rn") === 2, col("m"))).as("lo_micros"),
          max(when(col("rn") === R - 1, col("m"))).as("hi_micros"))
      val pt = o.groupBy("grp")
        .agg(count(lit(1)).as("n_orders"), sum("x").as("sx"))
        .select(col("grp"), col("n_orders"),
          bround(col("sx").cast("double") / col("n_orders").cast("double")
            * lit(1000000.0)).cast("long").as("mean_micros"))
      pt.join(ci, "grp")
        .select(col("grp"), col("n_orders"), col("mean_micros"),
          col("lo_micros"), col("hi_micros"))
        .orderBy("grp")
    },
      """WITH rep AS (
        |  SELECT o_orderpriority AS grp, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS x, t.r AS r
        |  FROM orders CROSS JOIN range(0, 48) t(r)),
        |h AS (SELECT grp, r, x,
        |    CAST('0x' || substr(md5('boot:' || r || ':' || o_orderkey),
        |      1, 7) AS BIGINT) AS h28 FROM rep),
        |w AS (SELECT grp, r, x,
        |    CASE WHEN h28 < 98751885 THEN 0 WHEN h28 < 197503771 THEN 1
        |      WHEN h28 < 246879713 THEN 2 WHEN h28 < 263338361 THEN 3
        |      WHEN h28 < 267453023 THEN 4 WHEN h28 < 268275955 THEN 5
        |      WHEN h28 < 268413111 THEN 6 WHEN h28 < 268432704 THEN 7
        |      WHEN h28 < 268435153 THEN 8 ELSE 9 END AS w FROM h),
        |agg AS (SELECT grp, r, CAST(sum(w) AS BIGINT) AS sw,
        |    sum(w * x) AS swx FROM w GROUP BY 1, 2),
        |means AS (SELECT grp, r, CAST(round_even(CAST(swx AS DOUBLE)
        |      / CAST(sw AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM agg WHERE sw > 0),
        |rk AS (SELECT grp, m,
        |    row_number() OVER (PARTITION BY grp ORDER BY m, r) AS rn
        |  FROM means),
        |ci AS (SELECT grp,
        |    max(CASE WHEN rn = 2 THEN m END) AS lo_micros,
        |    max(CASE WHEN rn = 47 THEN m END) AS hi_micros
        |  FROM rk GROUP BY 1),
        |pt AS (SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(round_even(
        |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*) * 1000000.0, 0) AS BIGINT) AS mean_micros
        |  FROM orders GROUP BY 1)
        |SELECT pt.grp AS grp, n_orders, mean_micros, lo_micros, hi_micros
        |FROM pt JOIN ci ON pt.grp = ci.grp ORDER BY grp""".stripMargin),

    // Population Stability Index per year vs the earliest year — the
    // numeric-feature drift twin of kl_drift (PSI is the industry
    // monitoring stat; ≥0.25 conventionally means "shifted"). Fixed
    // 50k-wide bins over o_totalprice (10 bins, literal edges — no
    // data-dependent quantile edges to drift between engines),
    // add-one smoothing over the bins on BOTH sides so empty bins
    // stay finite. Scale shape: two bin-keyed aggregates (map-side
    // combined), a 10-row broadcast bin spine, and a |years|×10 grid
    // — nothing corpus-sized past the first aggregate. Per-bin terms
    // (p−q)·ln(p/q) quantize to integer pico-nats before the per-year
    // sum; the base-year row reports exactly 0.
    QueryDef("psi_drift", (s, dir) => {
      val o = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("yr"),
        least(greatest(floor(col("o_totalprice") / lit(50000.0)), lit(0L)),
          lit(9L)).cast("int").as("bin"))
      val counts = o.groupBy("yr", "bin").agg(count(lit(1)).as("c"))
      val totals = o.groupBy("yr").agg(count(lit(1)).as("n"))
      val bins = s.range(0, 10).select(col("id").cast("int").as("bin"))
      val p = (col("c").cast("double") + lit(1.0)) /
        (col("n").cast("double") + lit(10.0))
      val grid = totals.crossJoin(broadcast(bins))
        .join(counts, Seq("yr", "bin"), "left")
        .na.fill(0L, Seq("c"))
        .select(col("yr"), col("bin"), col("n"), p.as("p"))
      val baseYr = grid.groupBy().agg(min("yr").as("base_yr"))
      val base = grid.join(broadcast(baseYr),
          col("yr") === col("base_yr"))
        .select(col("bin"), col("p").as("q"))
      grid.join(broadcast(base), "bin")
        .select(col("yr"), col("n"),
          bround((col("p") - col("q")) * log(col("p") / col("q"))
            * lit(1000000000000.0)).cast("long").as("term_picos"))
        .groupBy("yr").agg(
          min("n").as("n_orders"), sum("term_picos").as("psi_picos"))
        .select(col("yr"), col("n_orders"), col("psi_picos"),
          round(col("psi_picos").cast("double") / lit(1000000000000.0), 6)
            .as("psi"))
        .orderBy("yr")
    },
      """WITH o AS (SELECT year(o_orderdate) AS yr,
        |    CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 9)
        |      AS INT) AS bin FROM orders),
        |counts AS (SELECT yr, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM o GROUP BY 1, 2),
        |totals AS (SELECT yr, CAST(count(*) AS BIGINT) AS n
        |  FROM o GROUP BY 1),
        |bins AS (SELECT CAST(t.b AS INT) AS bin FROM range(0, 10) t(b)),
        |grid AS (SELECT totals.yr, bins.bin, totals.n,
        |    (CAST(coalesce(counts.c, 0) AS DOUBLE) + 1.0)
        |      / (CAST(totals.n AS DOUBLE) + 10.0) AS p
        |  FROM totals CROSS JOIN bins
        |  LEFT JOIN counts ON counts.yr = totals.yr
        |    AND counts.bin = bins.bin),
        |base AS (SELECT bin, p AS q FROM grid
        |  WHERE yr = (SELECT min(yr) FROM grid)),
        |terms AS (SELECT grid.yr, grid.n, CAST(round_even(
        |    (grid.p - base.q) * ln(grid.p / base.q)
        |    * 1000000000000.0, 0) AS BIGINT) AS term_picos
        |  FROM grid JOIN base ON grid.bin = base.bin)
        |SELECT yr, CAST(min(n) AS BIGINT) AS n_orders,
        |  CAST(sum(term_picos) AS BIGINT) AS psi_picos,
        |  round(CAST(sum(term_picos) AS DOUBLE) / 1000000000000.0, 6)
        |    AS psi
        |FROM terms GROUP BY 1 ORDER BY yr""".stripMargin),

    // Welch two-sample t-test per event type between two deterministic
    // 50/50 experiment arms (md5 of "ab:"+user_id — the shared bucket
    // recipe, so arm assignment is reproducible across runs, engines,
    // and cluster layouts; never rand()). The A/B readout is ONE pass:
    // values quantize to exact integer micros, each arm reduces to the
    // exact moments (n, Σv as int64, Σv² in DECIMAL(38,0) — v² alone
    // fits int64 but the SUM overflows it), and the t statistic and
    // Welch–Satterthwaite df are a fixed IEEE chain over those exact
    // integers, mirrored verbatim in the oracle. Map-side combine
    // collapses everything to |types|×2 rows before the shuffle — the
    // same shape at 100 TB.
    QueryDef("welch_ttest", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"),
        Dedup.hashBucket(concat(lit("ab:"), col("user_id").cast("string")),
          2L).cast("int").as("arm"))
      val one = ev.groupBy("event_type", "arm").agg(
          count(lit(1)).as("n"), sum("v").as("sv"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))
        .groupBy("event_type").agg(
          max(when(col("arm") === 0, col("n"))).as("n0"),
          max(when(col("arm") === 0, col("sv"))).as("sv0"),
          max(when(col("arm") === 0, col("svv"))).as("svv0"),
          max(when(col("arm") === 1, col("n"))).as("n1"),
          max(when(col("arm") === 1, col("sv"))).as("sv1"),
          max(when(col("arm") === 1, col("svv"))).as("svv1"))
      def mean(sv: Column, n: Column) = sv.cast("double") / n.cast("double")
      // unbiased per-arm variance of the mean: s²/n off exact moments
      def vm(svv: Column, sv: Column, n: Column) =
        (svv.cast("double")
          - sv.cast("double") * sv.cast("double") / n.cast("double")) /
          (n.cast("double") - lit(1.0)) / n.cast("double")
      val m0 = mean(col("sv0"), col("n0"))
      val m1 = mean(col("sv1"), col("n1"))
      val va = vm(col("svv0"), col("sv0"), col("n0"))
      val vb = vm(col("svv1"), col("sv1"), col("n1"))
      val tstat = (m0 - m1) / sqrt(va + vb)
      val dfW = (va + vb) * (va + vb) /
        (va * va / (col("n0").cast("double") - lit(1.0))
          + vb * vb / (col("n1").cast("double") - lit(1.0)))
      one.select(col("event_type"), col("n0"), col("n1"),
          round(m0 / lit(1000000.0), 4).as("mean0"),
          round(m1 / lit(1000000.0), 4).as("mean1"),
          bround(tstat, 6).as("t_stat"),
          bround(dfW, 2).as("df"),
          (abs(tstat) > lit(1.959964)).cast("int").as("significant"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v,
        |    CAST(CAST('0x' || substr(md5('ab:' || user_id), 1, 7)
        |      AS BIGINT) % 2 AS INT) AS arm
        |  FROM events),
        |st AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
        |  FROM ev GROUP BY 1, 2),
        |one AS (SELECT event_type,
        |    max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 0 THEN sv END) AS sv0,
        |    max(CASE WHEN arm = 0 THEN svv END) AS svv0,
        |    max(CASE WHEN arm = 1 THEN n END) AS n1,
        |    max(CASE WHEN arm = 1 THEN sv END) AS sv1,
        |    max(CASE WHEN arm = 1 THEN svv END) AS svv1
        |  FROM st GROUP BY 1),
        |c1 AS (SELECT event_type, n0, n1,
        |    CAST(sv0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
        |    CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    (CAST(svv0 AS DOUBLE) - CAST(sv0 AS DOUBLE)
        |        * CAST(sv0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |      / (CAST(n0 AS DOUBLE) - 1.0) / CAST(n0 AS DOUBLE) AS va,
        |    (CAST(svv1 AS DOUBLE) - CAST(sv1 AS DOUBLE)
        |        * CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS vb
        |  FROM one),
        |c2 AS (SELECT event_type, n0, n1, m0, m1, va, vb,
        |    (m0 - m1) / sqrt(va + vb) AS t
        |  FROM c1)
        |SELECT event_type, n0, n1,
        |  round(m0 / 1000000.0, 4) AS mean0,
        |  round(m1 / 1000000.0, 4) AS mean1,
        |  CAST(round_even(t, 6) AS DOUBLE) AS t_stat,
        |  CAST(round_even((va + vb) * (va + vb)
        |    / (va * va / (CAST(n0 AS DOUBLE) - 1.0)
        |      + vb * vb / (CAST(n1 AS DOUBLE) - 1.0)), 2) AS DOUBLE)
        |    AS df,
        |  CAST(CASE WHEN abs(t) > 1.959964 THEN 1 ELSE 0 END AS INT)
        |    AS significant
        |FROM c2 ORDER BY event_type""".stripMargin),

    // Simple OLS regression per event type: value against days since
    // epoch start (the trend readout next to welch_ttest's A/B
    // readout). Same one-pass exact-moment discipline: x (day index)
    // and y (value micros) reduce to n, Σx, Σy, Σx², Σxy, Σy² with the
    // cross products in DECIMAL(38,0); slope/intercept/r² are ONE
    // IEEE chain over the exact moments, mirrored verbatim in the
    // oracle (DuckDB accumulates the same integers in HUGEINT — same
    // exact values in, same doubles out). regr_slope-style built-ins
    // are deliberately NOT used on either side: their streaming-update
    // accumulation orders differ between engines. Zero-variance
    // denominators → NULL on both sides. Map-side combine
    // collapses to |types| rows before the shuffle.
    QueryDef("ols_fit", (s, dir) => {
      val d38 = "decimal(38,0)"
      val ev = Tables.events(s, dir).select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"),
        bround(col("value") * lit(1000000.0)).cast("long").as("y"))
      val m = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("y").cast(d38) * col("y")).as("syy"))
      val num = (col("n").cast(d38) * col("sxy")
        - col("sx").cast(d38) * col("sy")).cast("double")
      val denX = (col("n").cast(d38) * col("sxx")
        - col("sx").cast(d38) * col("sx")).cast("double")
      val denY = (col("n").cast(d38) * col("syy")
        - col("sy").cast(d38) * col("sy")).cast("double")
      val slope = num / denX // micros per day
      val icept = (col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double")
      m.select(col("event_type"), col("n"),
          when(denX =!= 0.0, bround(slope / lit(1000000.0), 6)).as("slope"),
          when(denX =!= 0.0, bround(icept / lit(1000000.0), 4)).as("intercept"),
          when(denX =!= 0.0 && denY =!= 0.0,
            bround(num * num / (denX * denY), 6)).as("r2"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS y
        |  FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM ev GROUP BY 1),
        |c AS (SELECT event_type, n, sx, sy,
        |    CAST(CAST(n AS HUGEINT) * sxy
        |      - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
        |    CAST(CAST(n AS HUGEINT) * sxx
        |      - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS den_x,
        |    CAST(CAST(n AS HUGEINT) * syy
        |      - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS den_y
        |  FROM m)
        |SELECT event_type, n,
        |  CASE WHEN den_x <> 0 THEN CAST(round_even(
        |    num / den_x / 1000000.0, 6) AS DOUBLE) END AS slope,
        |  CASE WHEN den_x <> 0 THEN CAST(round_even(
        |    (CAST(sy AS DOUBLE) - num / den_x * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) / 1000000.0, 4) AS DOUBLE) END
        |    AS intercept,
        |  CASE WHEN den_x <> 0 AND den_y <> 0 THEN CAST(round_even(
        |    num * num / (den_x * den_y), 6) AS DOUBLE) END AS r2
        |FROM c ORDER BY event_type""".stripMargin),

    // Exact two-sample Kolmogorov–Smirnov test per event type between
    // the same two md5 experiment arms welch_ttest reads: D = max over
    // the pooled distinct-value grid of |F0(v) − F1(v)|. The sup runs
    // on INTEGERS — |cum0·n1 − cum1·n0| — so tie handling and the max
    // are exact on both engines, and D pays exactly one IEEE division
    // at the end. Plan shape: one hash-agg to the distinct-value grid,
    // then the BUCKETED cumulative (graft.ops.DistributedRank
    // .withCumBefore — bounded by value cardinality AND never one
    // task per type even on a near-unique grid: bucket-list window +
    // per-bucket running sums), broadcast of the |types|-row margin
    // table. Round-12: same exact integers, oracle unchanged.
    QueryDef("ks_test", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"),
        Dedup.hashBucket(concat(lit("ab:"), col("user_id").cast("string")),
          2L).cast("int").as("arm"))
      val g = ev.groupBy("event_type", "v").agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
      val cum = graft.ops.DistributedRank.withCumBefore(
          g, Seq("event_type"), col("v"), Seq("c0", "c1"),
          width = 1 << 20)
        .select(col("event_type"),
          (col("cum_c0") + col("c0")).as("f0"),
          (col("cum_c1") + col("c1")).as("f1"))
      val tot = g.groupBy("event_type")
        .agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val d = cum.join(broadcast(tot), "event_type")
        .groupBy("event_type").agg(
          max(col("n0")).as("n0"), max(col("n1")).as("n1"),
          max(abs(col("f0") * col("n1") - col("f1") * col("n0")))
            .as("dnum"))
      val n0d = col("n0").cast("double")
      val n1d = col("n1").cast("double")
      val ks = col("dnum").cast("double") / (n0d * n1d)
      val crit = lit(1.358) * sqrt((n0d + n1d) / (n0d * n1d))
      d.select(col("event_type"), col("n0"), col("n1"),
          bround(ks, 6).as("ks_stat"),
          bround(crit, 6).as("crit_05"),
          (ks > crit).cast("int").as("reject"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v,
        |    CAST(CAST('0x' || substr(md5('ab:' || user_id), 1, 7)
        |      AS BIGINT) % 2 AS INT) AS arm
        |  FROM events),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |    sum(c0) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
        |  FROM g),
        |tot AS (SELECT event_type, CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1 FROM g GROUP BY 1),
        |d AS (SELECT c.event_type, max(t.n0) AS n0, max(t.n1) AS n1,
        |    CAST(max(abs(f0 * t.n1 - f1 * t.n0)) AS BIGINT) AS dnum
        |  FROM cum c JOIN tot t ON c.event_type = t.event_type
        |  GROUP BY 1)
        |SELECT event_type, n0, n1,
        |  CAST(round_even(CAST(dnum AS DOUBLE)
        |    / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS DOUBLE)
        |    AS ks_stat,
        |  CAST(round_even(1.358 * sqrt((CAST(n0 AS DOUBLE)
        |      + CAST(n1 AS DOUBLE))
        |    / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))), 6) AS DOUBLE)
        |    AS crit_05,
        |  CAST(CASE WHEN CAST(dnum AS DOUBLE)
        |      / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
        |    > 1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
        |      / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
        |    THEN 1 ELSE 0 END AS INT) AS reject
        |FROM d ORDER BY event_type""".stripMargin),

    // Chi-square independence of event_type × experiment arm over the
    // full contingency table: observed cells and both margins are
    // exact integers from ONE aggregate; each cell's (o−e)²/e term
    // quantizes to integer pico-units before the cross-cell sum (the
    // PSI/l-diversity rule — order-independent), and only the final
    // /1e12 is IEEE. df = (r−1)(c−1) = |types|−1 with 2 arms; the
    // exact chi2_picos integer travels alongside the rounded statistic
    // as the drift witness.
    QueryDef("chi_square", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        Dedup.hashBucket(concat(lit("ab:"), col("user_id").cast("string")),
          2L).cast("int").as("arm"))
      val cell = ev.groupBy("event_type", "arm").agg(count(lit(1)).as("o"))
      val rowm = cell.groupBy("event_type").agg(sum("o").as("rt"))
      val colm = cell.groupBy("arm").agg(sum("o").as("ct"))
      val nTot = cell.agg(sum("o").as("nn"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("nn").cast("double")
      val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
      // densify from the margins: an ABSENT cell is o=0, contributing
      // (0−e)²/e = e — dropping it would understate the statistic
      val terms = broadcast(rowm).crossJoin(broadcast(colm))
        .join(cell, Seq("event_type", "arm"), "left")
        .select(col("event_type"), col("rt"), col("ct"),
          coalesce(col("o"), lit(0L)).as("o"))
        .crossJoin(broadcast(nTot))
        .select(col("event_type"),
          bround(term * lit(1000000000000.0)).cast("long").as("t_picos"))
      val r = terms.agg(
        countDistinct("event_type").as("r_levels"),
        sum("t_picos").as("chi2_picos"))
      r.select(col("r_levels"),
          (col("r_levels") - 1).as("df"),
          col("chi2_picos"),
          bround(col("chi2_picos").cast("double") / lit(1000000000000.0), 6)
            .as("chi2"))
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(CAST('0x' || substr(md5('ab:' || user_id), 1, 7)
        |      AS BIGINT) % 2 AS INT) AS arm
        |  FROM events),
        |cell AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS o
        |  FROM ev GROUP BY 1, 2),
        |rowm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        |  FROM cell GROUP BY 1),
        |colm AS (SELECT arm, CAST(sum(o) AS BIGINT) AS ct
        |  FROM cell GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cell),
        |dense AS (SELECT r.event_type, r.rt, m.ct,
        |    COALESCE(c.o, 0) AS o
        |  FROM rowm r CROSS JOIN colm m
        |  LEFT JOIN cell c ON c.event_type = r.event_type
        |    AND c.arm = m.arm),
        |terms AS (SELECT event_type,
        |    CAST(round_even(
        |      (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |        / CAST(nn AS DOUBLE))
        |      * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |        / CAST(nn AS DOUBLE))
        |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |        / CAST(nn AS DOUBLE))
        |      * 1000000000000.0, 0) AS BIGINT) AS t_picos
        |  FROM dense CROSS JOIN nt)
        |SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r_levels,
        |  CAST(count(DISTINCT event_type) - 1 AS BIGINT) AS df,
        |  CAST(sum(t_picos) AS BIGINT) AS chi2_picos,
        |  CAST(round_even(CAST(sum(t_picos) AS DOUBLE)
        |    / 1000000000000.0, 6) AS DOUBLE) AS chi2
        |FROM terms""".stripMargin),

    // l-diversity audit (Machanavajjhala et al. 2007) — the
    // k-anonymity companion: every equivalence class (event_type, day)
    // must carry at least l DISTINCT sensitive values (user_id), and
    // distinct-count alone can still be skewed, so the entropy variant
    // is reported too. Per-class user counts map-side combine; entropy
    // terms p·ln(p)·(−1e12) quantize to integer pico-nats before the
    // per-class sum (order-independence), and the per-type minima are
    // exact integer folds.
    QueryDef("ldiversity", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("d"),
        col("user_id"))
      val cu = ev.groupBy("event_type", "d", "user_id")
        .agg(count(lit(1)).as("cu"))
      val cls = cu.groupBy("event_type", "d").agg(
        sum("cu").as("n"), count(lit(1)).as("l_distinct"))
      val p = col("cu").cast("double") / col("n").cast("double")
      val ent = cu
        .join(broadcast(cls.select("event_type", "d", "n")),
          Seq("event_type", "d"))
        .select(col("event_type"), col("d"),
          bround(p * log(p) * lit(-1000000000000.0)).cast("long")
            .as("h_picos"))
        .groupBy("event_type", "d").agg(sum("h_picos").as("ent_picos"))
      cls.join(ent, Seq("event_type", "d"))
        .groupBy("event_type").agg(
          count(lit(1)).as("classes"),
          min("l_distinct").as("min_l"),
          sum(when(col("l_distinct") < 3, 1L).otherwise(0L))
            .as("classes_below_l3"),
          min("ent_picos").as("min_entropy_picos"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    user_id
        |  FROM events),
        |cu AS (SELECT event_type, d, user_id,
        |    CAST(count(*) AS BIGINT) AS cu FROM ev GROUP BY 1, 2, 3),
        |cls AS (SELECT event_type, d, CAST(sum(cu) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS l_distinct
        |  FROM cu GROUP BY 1, 2),
        |ent AS (SELECT cu.event_type, cu.d,
        |    CAST(sum(CAST(round_even(
        |      (CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
        |      * -1000000000000.0, 0) AS BIGINT)) AS BIGINT) AS ent_picos
        |  FROM cu JOIN cls ON cu.event_type = cls.event_type
        |    AND cu.d = cls.d
        |  GROUP BY 1, 2)
        |SELECT cls.event_type AS event_type,
        |  CAST(count(*) AS BIGINT) AS classes,
        |  CAST(min(l_distinct) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS classes_below_l3,
        |  CAST(min(ent_picos) AS BIGINT) AS min_entropy_picos
        |FROM cls JOIN ent ON cls.event_type = ent.event_type
        |  AND cls.d = ent.d
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Wilson score interval — the small-n-safe conversion-rate CI
    // (the Wald interval collapses at p̂→0/1; Wilson is what an
    // experimentation readout should quote): per event type, the rate
    // of high-value events (value > 250) with its 95% bounds. k and n
    // are exact integers from one hash-agg; the entire interval is a
    // fixed IEEE chain over them, mirrored verbatim.
    QueryDef("wilson_ci", (s, dir) => {
      val z = 1.959964
      val m = t(s, dir, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("value") > 250.0, 1L).otherwise(0L)).as("k"))
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      val z2 = lit(z * z)
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val hw = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD)) / denom
      m.select(col("event_type"), col("n"), col("k"),
          bround(p, 6).as("p_hat"),
          bround(center - hw, 6).as("ci_lo"),
          bround(center + hw, 6).as("ci_hi"))
        .orderBy("event_type")
    },
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 250.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |c AS (SELECT event_type, n, k,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    1.959964 * 1.959964 AS z2, CAST(n AS DOUBLE) AS nd
        |  FROM m),
        |w AS (SELECT event_type, n, k, p,
        |    (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
        |    1.959964 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
        |      / (1.0 + z2 / nd) AS hw
        |  FROM c)
        |SELECT event_type, n, k,
        |  CAST(round_even(p, 6) AS DOUBLE) AS p_hat,
        |  CAST(round_even(center - hw, 6) AS DOUBLE) AS ci_lo,
        |  CAST(round_even(center + hw, 6) AS DOUBLE) AS ci_hi
        |FROM w ORDER BY event_type""".stripMargin),

    // Neighbor-set Jaccard similarity on the co-purchase graph — the
    // link-prediction sibling of [[adamic_adar]]: for part pairs
    // sharing at least one graph neighbor, |N∩|/|N∪| from the wedge
    // count and two degree lookups (common neighbors come from ONE
    // keyed self-join of the support-filtered edge list — never a
    // neighbor-list cross product; the union size is inclusion-
    // exclusion, no second join). Support ≥ 2 keeps the projected
    // graph sparse exactly as triangle_count does.
    QueryDef("graph_jaccard", (s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e = op.select(col("o"), col("p").as("p1"))
        .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select("p1", "p2")
        .localCheckpoint() // wedge join + degree table share it
      val nbr = e.select(col("p1").as("v"), col("p2").as("w"))
        .unionByName(e.select(col("p2").as("v"), col("p1").as("w")))
      val deg = nbr.groupBy("v").agg(count(lit(1)).as("deg"))
      val common = nbr.select(col("w").as("mid"), col("v").as("a"))
        .join(nbr.select(col("w").as("mid"), col("v").as("b")),
          Seq("mid"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
      common
        .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("common"),
          (col("da") + col("db") - col("common")).as("uni"),
          bround(col("common").cast("double") * lit(1000000.0)
            / (col("da") + col("db") - col("common")).cast("double"))
            .cast("long").as("jac_micros"))
        .orderBy(col("jac_micros").desc, col("a").asc, col("b").asc)
        .limit(25)
    },
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS p1, b.p AS p2
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nbr AS (SELECT p1 AS v, p2 AS w FROM e
        |  UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
        |  FROM nbr GROUP BY 1),
        |cm AS (SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT)
        |      AS common
        |  FROM nbr x JOIN nbr y ON x.w = y.w AND x.v < y.v
        |  GROUP BY 1, 2)
        |SELECT cm.a, cm.b, cm.common,
        |  da.deg + db.deg - cm.common AS uni,
        |  CAST(round_even(CAST(cm.common AS DOUBLE) * 1000000.0
        |    / CAST(da.deg + db.deg - cm.common AS DOUBLE), 0) AS BIGINT)
        |    AS jac_micros
        |FROM cm JOIN deg da ON da.v = cm.a JOIN deg db ON db.v = cm.b
        |ORDER BY jac_micros DESC, cm.a, cm.b LIMIT 25""".stripMargin),

    // Market-basket association rules — the classic retail co-purchase
    // readout the graph queries imply but never price: directed rules
    // a→b with support, confidence = supp(ab)/supp(a) and lift =
    // N·supp(ab)/(supp(a)·supp(b)), from ONE orderkey self-join of the
    // distinct (order, part) pairs (the triangle_count base) plus two
    // broadcast-sized per-part support lookups. Ratios quantize to
    // micros; top 25 by lift is TakeOrdered.
    QueryDef("assoc_rules", (s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint() // basket count, item supports, pair join
      val nOrders = op.agg(countDistinct("o").as("n_orders"))
      val supp = op.groupBy("p").agg(count(lit(1)).as("sp"))
      val pairs = op.select(col("o"), col("p").as("a"))
        .join(op.select(col("o"), col("p").as("b")), Seq("o"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sab"))
        .filter(col("sab") >= 2)
      pairs
        .join(supp.select(col("p").as("a"), col("sp").as("sa")), Seq("a"))
        .join(supp.select(col("p").as("b"), col("sp").as("sb")), Seq("b"))
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("sab"), col("sa"), col("sb"),
          bround(col("sab").cast("double") * lit(1000000.0)
            / col("sa").cast("double")).cast("long").as("conf_micros"),
          bround(col("n_orders").cast("double")
            * col("sab").cast("double") * lit(1000000.0)
            / (col("sa").cast("double") * col("sb").cast("double")))
            .cast("long").as("lift_micros"))
        .orderBy(col("lift_micros").desc, col("conf_micros").desc,
          col("a").asc, col("b").asc)
        .limit(25)
    },
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
        |  FROM op),
        |supp AS (SELECT p, CAST(count(*) AS BIGINT) AS sp
        |  FROM op GROUP BY 1),
        |pr AS (SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS sab
        |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.a, pr.b, pr.sab, sa.sp AS sa, sb.sp AS sb,
        |  CAST(round_even(CAST(pr.sab AS DOUBLE) * 1000000.0
        |    / CAST(sa.sp AS DOUBLE), 0) AS BIGINT) AS conf_micros,
        |  CAST(round_even(CAST(n.n_orders AS DOUBLE)
        |    * CAST(pr.sab AS DOUBLE) * 1000000.0
        |    / (CAST(sa.sp AS DOUBLE) * CAST(sb.sp AS DOUBLE)), 0)
        |    AS BIGINT) AS lift_micros
        |FROM pr JOIN supp sa ON sa.p = pr.a JOIN supp sb ON sb.p = pr.b
        |CROSS JOIN n
        |ORDER BY lift_micros DESC, conf_micros DESC, pr.a, pr.b
        |LIMIT 25""".stripMargin),

    // Differentially-private release shape — the fourth rung of the
    // privacy family (k-anonymity / l-diversity / t-closeness audit
    // the data; DP perturbs the RELEASE): per-type counts plus
    // two-sided-geometric (discrete Laplace) noise at ε=1, with the
    // noise stream derived from the engine's md5 keep rule instead of
    // rand() — G = ⌊−ln(u)/ε⌋ per side, u = (28-bit md5 + 1)/2²⁸ —
    // so the release is reproducible and the ORACLE replays the exact
    // noise. True counts ride along deliberately: this is the gate
    // that certifies the mechanism's arithmetic, not a private
    // release itself (production drops the true column and the seed).
    QueryDef("dp_counts", (s, dir) => {
      val m = Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
      def u(saltC: String) =
        (Dedup.hashBucket(concat(lit(saltC), col("event_type")),
          268435456L).cast("double") + 1.0) / 268435456.0
      def g(saltC: String) = floor(-log(u(saltC))).cast("long")
      m.select(col("event_type"), col("n_true"),
          (g("dp1:") - g("dp2:")).as("noise"),
          (col("n_true") + g("dp1:") - g("dp2:")).as("n_noisy"))
        .orderBy("event_type")
    },
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY 1),
        |g AS (SELECT event_type, n_true,
        |    CAST(floor(-ln((CAST('0x' || substr(md5('dp1:' || event_type),
        |        1, 7) AS BIGINT) % 268435456 + 1.0) / 268435456.0))
        |      AS BIGINT) AS g1,
        |    CAST(floor(-ln((CAST('0x' || substr(md5('dp2:' || event_type),
        |        1, 7) AS BIGINT) % 268435456 + 1.0) / 268435456.0))
        |      AS BIGINT) AS g2
        |  FROM m)
        |SELECT event_type, n_true, g1 - g2 AS noise,
        |  n_true + g1 - g2 AS n_noisy
        |FROM g ORDER BY event_type""".stripMargin),

    // Cohen's kappa — inter-annotator agreement between two
    // deterministic binary "raters" of document quality (a hard
    // length rule vs a noisy variant of it), per language: the
    // chance-corrected agreement every labeling pipeline reports
    // before trusting its annotations. κ = (n·(n11+n00) − Σ rᵢcᵢ) /
    // (n² − Σ rᵢcᵢ): the whole statistic is ONE IEEE division over
    // exact integer margins from a single scan + |langs|-row agg.
    QueryDef("cohens_kappa", (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        (col("n_chars") >= 500).cast("int").as("r1"),
        ((col("n_chars") + pmod(col("doc_id"), lit(200))) >= 500)
          .cast("int").as("r2"))
      val m = d.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(when(col("r1") === 1 && col("r2") === 1, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("r1") === 1 && col("r2") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("r1") === 0 && col("r2") === 1, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("r1") === 0 && col("r2") === 0, 1L).otherwise(0L))
          .as("n00"))
      val chance = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n00") + col("n01")) * (col("n00") + col("n10"))
      val num = col("n") * (col("n11") + col("n00")) - chance
      val den = col("n") * col("n") - chance
      m.select(col("lang"), col("n"), col("n11"), col("n10"),
          col("n01"), col("n00"),
          when(den =!= 0, bround(num.cast("double") / den.cast("double"),
            6)).as("kappa"))
        .orderBy("lang")
    },
      """WITH d AS (SELECT lang,
        |    CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN n_chars + (doc_id % 200) >= 500 THEN 1 ELSE 0 END
        |      AS r2
        |  FROM documents),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM d GROUP BY 1),
        |c AS (SELECT *,
        |    (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
        |      AS chance
        |  FROM m)
        |SELECT lang, n, n11, n10, n01, n00,
        |  CASE WHEN n * n - chance <> 0 THEN
        |    CAST(round_even(CAST(n * (n11 + n00) - chance AS DOUBLE)
        |      / CAST(n * n - chance AS DOUBLE), 6) AS DOUBLE) END
        |    AS kappa
        |FROM c ORDER BY lang""".stripMargin),

    // t-closeness — the third rung of the anonymity ladder after
    // [[kanonymity]] (class sizes) and [[ldiversity]] (class variety):
    // how far each (lang, source) equivalence class's SENSITIVE-value
    // distribution drifts from the corpus-wide one, as the ordered
    // earth-mover's distance over a FIXED 10-class ordinal (length
    // decile by literal 200-char steps — no data-dependent grid).
    // EMD(ordered) = Σᵢ|CumPg(i) − CumP(i)| / (m−1), computed on
    // INTEGERS — |cum_g·N − cum_all·n_g| in DECIMAL(38,0) — with ONE
    // final IEEE division per class. The global CDF is a 10-row
    // broadcast (its unpartitioned window is over the literal grid,
    // never data-sized); per-group cums share one (lang, source)
    // shuffle.
    QueryDef("t_closeness", (s, dir) => {
      val d38 = "decimal(38,0)"
      val d = t(s, dir, "documents").select(col("lang"), col("source"),
        least(expr("CAST(n_chars DIV 200 AS INT)"), lit(9)).as("cls"))
      // ONE scan of the corpus: every downstream aggregate (grid,
      // per-group cums, global CDF, margins) re-derives from the
      // checkpointed ≤ |groups|·10-row count table
      val cnt = d.groupBy("lang", "source", "cls")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val grid = cnt.select("lang", "source").distinct()
        .select(col("lang"), col("source"),
          explode(sequence(lit(0), lit(9))).as("cls"))
      val full = grid.join(cnt, Seq("lang", "source", "cls"), "left")
        .na.fill(0L, Seq("c"))
      val wg = Window.partitionBy("lang", "source").orderBy("cls")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gc = full.select(col("lang"), col("source"), col("cls"),
        sum("c").over(wg).as("cum_g"))
      val gfull = s.range(10).select(col("id").cast("int").as("cls"))
        .join(cnt.groupBy("cls").agg(sum("c").as("c")),
          Seq("cls"), "left")
        .na.fill(0L, Seq("c"))
      val wAll = Window.orderBy("cls")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gcum = gfull.select(col("cls"), sum("c").over(wAll).as("cum_all"))
      val ng = cnt.groupBy("lang", "source").agg(sum("c").as("n"))
      val nAll = cnt.agg(sum("c").as("nn"))
      gc.join(broadcast(gcum), Seq("cls"))
        .join(broadcast(ng), Seq("lang", "source"))
        .crossJoin(broadcast(nAll))
        .filter(col("cls") < 9)
        .groupBy("lang", "source").agg(
          max("n").as("n"), max("nn").as("nn"),
          sum(abs(col("cum_g").cast(d38) * col("nn")
            - col("cum_all").cast(d38) * col("n"))).as("num"))
        .select(col("lang"), col("source"), col("n"),
          bround(col("num").cast("double")
            / (col("n").cast("double") * col("nn").cast("double")
              * lit(9.0)), 6).as("t_emd"))
        .orderBy("lang", "source")
    },
      """WITH d AS (SELECT lang, source,
        |    least(CAST(n_chars // 200 AS INT), 9) AS cls
        |  FROM documents),
        |cnt AS (SELECT lang, source, cls,
        |    CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2, 3),
        |grid AS (SELECT g.lang, g.source, t.c AS cls
        |  FROM (SELECT DISTINCT lang, source FROM d) g, range(0, 10) t(c)),
        |fullg AS (SELECT g.lang, g.source, g.cls, coalesce(cnt.c, 0) AS c
        |  FROM grid g LEFT JOIN cnt ON cnt.lang = g.lang
        |    AND cnt.source = g.source AND cnt.cls = g.cls),
        |gc AS (SELECT lang, source, cls,
        |    sum(c) OVER (PARTITION BY lang, source ORDER BY cls
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
        |  FROM fullg),
        |gl AS (SELECT t.c AS cls, coalesce(x.c, 0) AS c
        |  FROM range(0, 10) t(c) LEFT JOIN
        |    (SELECT cls, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1) x
        |    ON x.cls = t.c),
        |gcum AS (SELECT cls, sum(c) OVER (ORDER BY cls
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
        |  FROM gl),
        |ng AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d)
        |SELECT gc.lang, gc.source, CAST(max(ng.n) AS BIGINT) AS n,
        |  CAST(round_even(CAST(sum(abs(CAST(gc.cum_g AS HUGEINT) * na.nn
        |      - CAST(gcum.cum_all AS HUGEINT) * ng.n)) AS DOUBLE)
        |    / (CAST(max(ng.n) AS DOUBLE) * CAST(max(na.nn) AS DOUBLE)
        |      * 9.0), 6) AS DOUBLE) AS t_emd
        |FROM gc JOIN gcum ON gcum.cls = gc.cls
        |  JOIN ng ON ng.lang = gc.lang AND ng.source = gc.source
        |  CROSS JOIN na
        |WHERE gc.cls < 9
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Mergeable quantile sketch: per-type p50/p90/p99 of event value
    // from a FIXED 512-bin grid. The bin-count aggregate IS the sketch
    // state — 512 longs per group, map-side combined, trivially
    // mergeable across partitions/days/clusters (sum the grids), with
    // a hard error bound of one bin width (400/512 ≈ 0.78). That is
    // the one-pass fixed-memory shape percentile_approx's GK sketch
    // also has, but with engine-portable state the DuckDB twin
    // recomputes bit-for-bit (GK/t-digest internals are not portable).
    // Readout: cumulative counts over the ≤512-row grid + linear
    // interpolation inside the target bin — integer counts, literal
    // edges, one mirrored IEEE chain.
    // [[sketch_quantiles]]' merge property as its own gated query —
    // the quantile member of the mergeable-sketch trio (HLL registers
    // merge by MAX → hll_rollup; CMS/grid counters merge by SUM).
    // Per-(day, event_type) 512-bin grids — the daily sketch state
    // table a pipeline would persist — roll up by summing counts, and
    // the readout over the merged grid must land on exactly the
    // quantiles the one-shot grid gives (sum is associative), which
    // the oracle replays through the same two-level aggregation. The
    // n_days witness pins the calendar level actually merged.
    QueryDef("sketch_quantile_rollup", (s, dir) => {
      import s.implicits._
      val W = 400.0 / 512.0
      val ev = Tables.events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("day"),
        least(floor(col("value") / lit(W)), lit(511L)).cast("int")
          .as("bin"))
      val daily = ev.groupBy("day", "event_type", "bin")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the witness AND the merge
      val days = daily.groupBy("event_type")
        .agg(countDistinct("day").as("n_days"))
      val bc = daily.groupBy("event_type", "bin").agg(sum("c").as("c"))
      val wspec = Window.partitionBy("event_type").orderBy("bin")
      val cum = bc.select(col("event_type"), col("bin"), col("c"),
        sum("c").over(wspec).as("cum"))
      val tot = bc.groupBy("event_type").agg(sum("c").as("n"))
      val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
        .toDF("p", "pname")
      val rank = ceil(col("p") * col("n").cast("double"))
      val v = col("bin").cast("double") * lit(W) +
        lit(W) * (rank - (col("cum") - col("c")).cast("double")) /
          col("c").cast("double")
      cum.join(broadcast(tot), "event_type")
        .crossJoin(broadcast(ps))
        .filter(col("cum").cast("double") >= rank &&
          (col("cum") - col("c")).cast("double") < rank)
        .select(col("event_type"), col("n"), col("pname"),
          round(v, 6).as("v"))
        .groupBy("event_type").agg(
          min("n").as("n"),
          max(when(col("pname") === "p50", col("v"))).as("p50"),
          max(when(col("pname") === "p90", col("v"))).as("p90"),
          max(when(col("pname") === "p99", col("v"))).as("p99"))
        .join(days, "event_type")
        .select("event_type", "n_days", "n", "p50", "p90", "p99")
        .orderBy("event_type")
    },
      // the merged grid rebuilds through the SAME day level the Spark
      // side checkpoints, then the shared readout chain
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(least(floor(value / 0.78125), 511) AS INT) AS bin
        |  FROM events),
        |daily AS (SELECT day, event_type, bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |days AS (SELECT event_type,
        |    CAST(count(DISTINCT day) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |bc AS (SELECT event_type, bin, CAST(sum(c) AS BIGINT) AS c
        |  FROM daily GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin)
        |      AS BIGINT) AS cum
        |  FROM bc),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        |ps(p, pname) AS (VALUES (0.5, 'p50'), (0.9, 'p90'),
        |  (0.99, 'p99')),
        |hit AS (SELECT cum.event_type, tot.n, ps.pname,
        |    round(CAST(cum.bin AS DOUBLE) * 0.78125
        |      + 0.78125 * (ceil(ps.p * CAST(tot.n AS DOUBLE))
        |          - CAST(cum.cum - cum.c AS DOUBLE))
        |        / CAST(cum.c AS DOUBLE), 6) AS v
        |  FROM cum JOIN tot ON cum.event_type = tot.event_type
        |  CROSS JOIN ps
        |  WHERE CAST(cum.cum AS DOUBLE)
        |      >= ceil(ps.p * CAST(tot.n AS DOUBLE))
        |    AND CAST(cum.cum - cum.c AS DOUBLE)
        |      < ceil(ps.p * CAST(tot.n AS DOUBLE)))
        |SELECT h.event_type, d.n_days, CAST(min(h.n) AS BIGINT) AS n,
        |  max(CASE WHEN h.pname = 'p50' THEN h.v END) AS p50,
        |  max(CASE WHEN h.pname = 'p90' THEN h.v END) AS p90,
        |  max(CASE WHEN h.pname = 'p99' THEN h.v END) AS p99
        |FROM hit h JOIN days d ON h.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY h.event_type""".stripMargin),

    QueryDef("sketch_quantiles", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        gridBin(col("value")))
      gridQuantileReadout(s,
        ev.groupBy("event_type", "bin").agg(count(lit(1)).as("c")))
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(least(floor(value / 0.78125), 511) AS INT) AS bin
        |  FROM events),
        |bc AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin)
        |      AS BIGINT) AS cum
        |  FROM bc),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        |ps(p, pname) AS (VALUES (0.5, 'p50'), (0.9, 'p90'),
        |  (0.99, 'p99')),
        |hit AS (SELECT cum.event_type, tot.n, ps.pname,
        |    round(CAST(cum.bin AS DOUBLE) * 0.78125
        |      + 0.78125 * (ceil(ps.p * CAST(tot.n AS DOUBLE))
        |          - CAST(cum.cum - cum.c AS DOUBLE))
        |        / CAST(cum.c AS DOUBLE), 6) AS v
        |  FROM cum JOIN tot ON cum.event_type = tot.event_type
        |  CROSS JOIN ps
        |  WHERE CAST(cum.cum AS DOUBLE)
        |      >= ceil(ps.p * CAST(tot.n AS DOUBLE))
        |    AND CAST(cum.cum - cum.c AS DOUBLE)
        |      < ceil(ps.p * CAST(tot.n AS DOUBLE)))
        |SELECT event_type, CAST(min(n) AS BIGINT) AS n,
        |  max(CASE WHEN pname = 'p50' THEN v END) AS p50,
        |  max(CASE WHEN pname = 'p90' THEN v END) AS p90,
        |  max(CASE WHEN pname = 'p99' THEN v END) AS p99
        |FROM hit GROUP BY 1 ORDER BY event_type""".stripMargin),

    // AMS second-moment (F₂ = Σ_k f_k², the self-join size) sketch —
    // the Alon-Matias-Szegedy tug-of-war estimator next to the
    // HLL/CMS/Bloom square: 8 independent ±1 sign hashes, X_j =
    // (Σ_rows sign_j(key))², E[X_j] = F₂. Everything is exact
    // integers until the final readout ratio: the 8 signed sums ride
    // ONE map-side-combined aggregate over the scan (mergeable — the
    // per-partition partials are the sketch), and exact F₂ is one
    // keyed count + a DECIMAL(38,0) square sum (overflow-proof at
    // 100 TB key multiplicities). rel gate: 8 estimators give relative
    // std ≈ √(2/8) = 0.5; ratio is emitted rounded, not thresholded —
    // drift trips the hash oracle.
    QueryDef("ams_f2_sketch", (s, dir) => {
      val keys = t(s, dir, "lineitem")
        .select(col("l_partkey").cast("string").as("k"))
      def sgn(j: Int) =
        Dedup.hashBucket(concat(lit(s"ams$j:"), col("k")), 2L) * 2L - 1L
      val sums = keys.agg(
        sum(sgn(0)).as("s0"),
        (1 until 8).map(j => sum(sgn(j)).as(s"s$j")): _*)
      val est = sums.select(
        (0 until 8).map(j =>
            (col(s"s$j").cast("decimal(38,0)") * col(s"s$j")))
          .reduce(_ + _).cast("long").as("est_sum8"))
      val exact = keys.groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("f2d"))
        .select(col("f2d").cast("long").as("exact_f2"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_f2"), col("est_sum8"),
          round(col("est_sum8").cast("double") / lit(8.0), 6)
            .as("est_f2"),
          round(col("est_sum8").cast("double") / lit(8.0)
            / col("exact_f2").cast("double"), 6).as("ratio"))
    },
      // same 8 sign hashes (md5-bucket parity), HUGEINT-safe squares
      {
        val sgns = (0 until 8).map(j =>
          s"""CAST(sum(CAST('0x' || substr(md5('ams$j:' || k), 1, 7)
             |      AS BIGINT) % 2 * 2 - 1) AS BIGINT) AS s$j""".stripMargin)
          .mkString(",\n")
        val sq = (0 until 8).map(j => s"CAST(s$j AS HUGEINT) * s$j")
          .mkString(" + ")
        s"""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
           |s AS (SELECT
           |$sgns
           |  FROM k),
           |e AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT)
           |    AS exact_f2
           |  FROM (SELECT count(*) AS c FROM k GROUP BY k)),
           |m AS (SELECT CAST($sq AS BIGINT) AS est_sum8 FROM s)
           |SELECT exact_f2, est_sum8,
           |  round(CAST(est_sum8 AS DOUBLE) / 8.0, 6) AS est_f2,
           |  round(CAST(est_sum8 AS DOUBLE) / 8.0
           |    / CAST(exact_f2 AS DOUBLE), 6) AS ratio
           |FROM e, m""".stripMargin
      }),

    // Last-touch attribution: every purchase credits the LAST
    // click/view by the same user within a 3-day lookback; purchases
    // with no qualifying touch report as channel "none". ONE window
    // pass over user-partitioned events (the as-of-join shape without
    // a join): two `last(..., ignoreNulls)` over the same
    // rows-preceding frame necessarily pick the same touch row, which
    // keeps the oracle struct-free. Values quantize to exact micros
    // before the per-channel sum. Scale: the window shuffles once on
    // user_id; output is |channels| rows.
    // Exact Shapley-value attribution over the three touch channels
    // (view=1, click=2, signup=4; conversion = purchase). The game:
    // v(T) = converted users whose touched-channel set ⊆ T (users
    // with NO touches form the v(∅) baseline no channel is credited
    // for). With n=3 the Shapley sum is exact: φ_i = Σ_{T∌i}
    // |T|!(2−|T|)!/3! · (v(T∪{i}) − v(T)), weights {2,1,2}/6 by |T|.
    // Scale shape: ONE user-keyed aggregate folds the corpus to a
    // ≤8-row mask histogram; the subset-lattice walk (8 coalitions ×
    // ≤8 masks), the 3-channel marginal sum, and the 1/6 division all
    // run on that bounded grid — broadcast joins, zero further
    // shuffles, so 100× data only widens the first aggregate. φ stays
    // an exact integer in sixths until the final readout division;
    // Σφ_i = v(full) − v(∅) (efficiency) is emitted as a cross-check.
    QueryDef("shapley_attribution", (s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
        .groupBy("user_id").agg(
          (max(when(col("event_type") === "view", 1).otherwise(0)) +
            max(when(col("event_type") === "click", 2).otherwise(0)) +
            max(when(col("event_type") === "signup", 4).otherwise(0)))
            .as("mask"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("conv"))
      val cm = perUser.filter(col("conv") === 1)
        .groupBy("mask").agg(count(lit(1)).as("c")) // ≤8 rows
      val coalitions = s.range(8)
        .select(col("id").cast("int").as("t"))
      // mask ⊆ t within 3 bits ⇔ mask & (7−t) = 0 (t ⊆ 0b111 so 7−t
      // is the 3-bit complement)
      val v = coalitions.join(broadcast(cm),
          (col("mask").bitwiseAND(lit(7) - col("t"))) === 0, "left")
        .groupBy("t").agg(coalesce(sum("c"), lit(0L)).as("v"))
      val channels = s.createDataFrame(Seq(
        ("click", 2), ("signup", 4), ("view", 1)))
        .toDF("channel", "bit")
      val pop = (col("t").bitwiseAND(lit(1))) +
        (col("t").bitwiseAND(lit(2)) / lit(2)).cast("int") +
        (col("t").bitwiseAND(lit(4)) / lit(4)).cast("int")
      val wNum = when(pop === 1, 1L).otherwise(2L) // |T|∈{0,2} → 2/6
      val vT = v.select(col("t"), col("v").as("v_t"))
      val vTi = v.select(col("t").as("ti"), col("v").as("v_ti"))
      channels
        .crossJoin(broadcast(vT))
        .filter(col("t").bitwiseAND(col("bit")) === 0)
        .join(broadcast(vTi), col("ti") === col("t") + col("bit"))
        .groupBy("channel")
        .agg(sum(wNum * (col("v_ti") - col("v_t"))).as("phi_sixths"))
        .select(col("channel"), col("phi_sixths"),
          round(col("phi_sixths").cast("double") / lit(6.0), 6)
            .as("phi"))
        .orderBy("channel")
    },
      // same mask histogram → subset-lattice v(T) → weighted marginals;
      // DuckDB's & | bit ops mirror Spark's bitwiseAND node-for-node
      """WITH pu AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
        |      + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
        |      AS mask,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |cm AS (SELECT mask, count(*) AS c FROM pu
        |  WHERE conv = 1 GROUP BY 1),
        |co AS (SELECT CAST(range AS INT) AS t FROM range(8)),
        |v AS (SELECT t, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN cm ON (mask & (7 - t)) = 0 GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES ('click', 2), ('signup', 4),
        |    ('view', 1)) AS x(channel, bit)),
        |marg AS (SELECT channel,
        |    CASE WHEN ((vt.t & 1) + ((vt.t & 2) // 2)
        |        + ((vt.t & 4) // 4)) = 1 THEN 1 ELSE 2 END
        |      * (vti.v - vt.v) AS contrib
        |  FROM ch JOIN v vt ON (vt.t & bit) = 0
        |  JOIN v vti ON vti.t = vt.t + bit)
        |SELECT channel, CAST(sum(contrib) AS BIGINT) AS phi_sixths,
        |  round(CAST(sum(contrib) AS DOUBLE) / 6.0, 6) AS phi
        |FROM marg GROUP BY 1 ORDER BY channel""".stripMargin),

    QueryDef("attribution", (s, dir) => {
      val lookbackUs = 259200000000L // 3 days in µs
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("v"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val isTouch = col("event_type").isin("click", "view")
      ev
        .withColumn("lt_ts",
          last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w))
        .withColumn("lt_ch",
          last(when(isTouch, col("event_type")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("v"),
          when(col("lt_ts").isNotNull &&
            col("ts_us") - col("lt_ts") <= lit(lookbackUs),
            col("lt_ch")).otherwise(lit("none")).as("channel"))
        .groupBy("channel").agg(
          count(lit(1)).as("purchases"), sum("v").as("value_micros"))
        .select(col("channel"), col("purchases"), col("value_micros"),
          round(col("value_micros").cast("double") / lit(1000000.0), 6)
            .as("value"))
        .orderBy("channel")
    },
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
        |  FROM events),
        |lt AS (SELECT *,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN ts_us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt_ts,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt_ch
        |  FROM ev),
        |att AS (SELECT v,
        |    CASE WHEN lt_ts IS NOT NULL AND ts_us - lt_ts <= 259200000000
        |      THEN lt_ch ELSE 'none' END AS channel
        |  FROM lt WHERE event_type = 'purchase')
        |SELECT channel, CAST(count(*) AS BIGINT) AS purchases,
        |  CAST(sum(v) AS BIGINT) AS value_micros,
        |  round(CAST(sum(v) AS DOUBLE) / 1000000.0, 6) AS value
        |FROM att GROUP BY 1 ORDER BY channel""".stripMargin),

    // Per-dimension embedding diagnostics — the collapsed/dead-dim
    // check an embedding pipeline runs before trusting ANN recall
    // (a dimension whose variance ≈ 0 carries no signal; a high
    // zero-fraction flags sparsity/ReLU death). One posexplode +
    // ONE dim-keyed aggregate: map-side combine collapses to 64 rows
    // per partition regardless of corpus size. float32 components
    // quantize to exact integer micros (float→double is exact);
    // Σx² runs in DECIMAL(38,0) (micros² sums past int64 at corpus
    // scale); mean/variance are one mirrored IEEE chain off the
    // exact moments.
    QueryDef("embed_dim_stats", (s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(posexplode(col("embedding")))
        .select(col("pos").as("dim"),
          bround(col("col").cast("double") * lit(1000000.0)).cast("long")
            .as("xm"))
      q.groupBy("dim").agg(
          count(lit(1)).as("n"), sum("xm").as("sv"),
          sum(col("xm").cast("decimal(38,0)") * col("xm")).as("svv"),
          sum(when(col("xm") === 0L, 1L).otherwise(0L)).as("zeros"))
        .select(col("dim"), col("n"), col("zeros"),
          round(col("sv").cast("double") / col("n").cast("double")
            / lit(1000000.0), 6).as("mean"),
          round((col("svv").cast("double")
            - col("sv").cast("double") * col("sv").cast("double")
              / col("n").cast("double"))
            / col("n").cast("double") / lit(1000000000000.0), 6)
            .as("variance"))
        .orderBy("dim")
    },
      """WITH e AS (SELECT generate_subscripts(embedding, 1) AS i,
        |    unnest(embedding) AS x FROM embeddings),
        |q AS (SELECT CAST(i - 1 AS INT) AS dim,
        |    CAST(round_even(CAST(x AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) AS xm FROM e),
        |m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xm) AS BIGINT) AS sv,
        |    CAST(sum(CAST(xm AS HUGEINT) * xm) AS DECIMAL(38,0)) AS svv,
        |    CAST(sum(CASE WHEN xm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zeros
        |  FROM q GROUP BY 1)
        |SELECT dim, n, zeros,
        |  round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
        |    AS mean,
        |  round((CAST(svv AS DOUBLE)
        |    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1000000000000.0, 6) AS variance
        |FROM m ORDER BY dim""".stripMargin),

    // Dense surrogate ids — the DataFrame answer to zipWithIndex. A
    // naive global `row_number() OVER (ORDER BY key)` funnels 100 TB
    // through ONE partition; `monotonically_increasing_id` is neither
    // dense nor layout-stable. The scalable spelling is two-phase:
    // md5-bucket every key (deterministic, the shared recipe), count
    // per bucket (B rows), turn counts into exclusive offsets with a
    // window over the B-row table (bounded — B is a constant, not the
    // data), broadcast the offsets back, and rank WITHIN each bucket
    // (partition-local window, no single-partition stage). The id is
    // offset(bucket) + local rank − 1 ≡ the rank in the total order
    // (bucket, key) — which is exactly what the oracle computes with
    // the one-sort spelling, so the driver's compare verifies the
    // two-phase ≡ global-sort theorem on every run.
    QueryDef("dense_ids", (s, dir) => {
      val B = 64L
      val b = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("bkt", Dedup.hashBucket(
          concat(lit("sid:"), col("doc_id").cast("string")), B))
      val offs = b.groupBy("bkt").agg(count(lit(1)).as("c"))
        .select(col("bkt"),
          (sum("c").over(Window.orderBy("bkt")) - col("c")).as("off"))
      val wb = Window.partitionBy("bkt").orderBy("doc_id")
      b.join(broadcast(offs), "bkt")
        .select(col("doc_id"), col("bkt"),
          (col("off") + row_number().over(wb) - lit(1)).as("sid"))
        .orderBy("sid")
    },
      """WITH b AS (SELECT doc_id,
        |    CAST('0x' || substr(md5('sid:' || doc_id), 1, 7) AS BIGINT)
        |      % 64 AS bkt
        |  FROM documents)
        |SELECT doc_id, bkt,
        |  CAST(row_number() OVER (ORDER BY bkt, doc_id) - 1 AS BIGINT)
        |    AS sid
        |FROM b ORDER BY sid""".stripMargin),

    // Kaplan–Meier survival of user lifetimes in days: a user "dies"
    // on the day of their last event unless it falls on the corpus
    // end day (right-censored — still at risk when observation
    // stopped, the distinction naive churn counts get wrong).
    // S(w) = Π_{i≤w} (1 − d_i/n_i) over death days; the
    // product runs as a cumulative SUM of per-week ln terms quantized
    // to integer pico-nats (windows over the |weeks|-row table — the
    // corpus-scale work is ONE per-user aggregate; everything after is
    // weeks-sized). A week that kills every remaining user would make
    // ln(0) = −∞, so a cumulative any-extinction flag forces survival
    // to exactly 0 from that week on instead.
    QueryDef("survival_curve", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("ts").cast("date").as("d"))
      val users = ev.groupBy("user_id")
        .agg(min("d").as("first_d"), max("d").as("last_d"))
      val endD = ev.agg(max("d").as("end_d"))
      val life = users.crossJoin(broadcast(endD)).select(
        datediff(col("last_d"), col("first_d")).cast("int").as("w"),
        (datediff(col("end_d"), col("last_d")) < 1).as("censored"))
      val wk = life.groupBy("w").agg(
        sum(when(!col("censored"), 1L).otherwise(0L)).as("deaths"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("censored"))
      // global-ordered windows over the weeks table only — bounded by
      // max lifetime in weeks, never corpus-sized
      val byW = Window.orderBy("w")
      val totals = life.agg(count(lit(1)).as("total"))
      val risk = wk.crossJoin(broadcast(totals))
        .select(col("w"), col("deaths"), col("censored"), col("total"),
          (sum(col("deaths") + col("censored")).over(byW)
            - (col("deaths") + col("censored"))).as("gone"))
      val n = (col("total") - col("gone")).as("n_risk")
      val term = when(col("deaths") < col("n_risk"),
        bround(log(lit(1.0) - col("deaths").cast("double")
          / col("n_risk").cast("double")) * lit(1000000000000.0))
          .cast("long")).otherwise(lit(0L))
      risk.select(col("w"), n, col("deaths"), col("censored"))
        .select(col("w"), col("n_risk"), col("deaths"), col("censored"),
          term.as("t_picos"),
          when(col("deaths") >= col("n_risk"), 1).otherwise(0).as("ext"))
        .select(col("w"), col("n_risk"), col("deaths"), col("censored"),
          round(col("deaths").cast("double") / col("n_risk").cast("double"),
            6).as("hazard"),
          sum("t_picos").over(byW).as("cum_picos"),
          max("ext").over(byW).as("dead"))
        .select(col("w"), col("n_risk"), col("deaths"), col("censored"),
          col("hazard"),
          when(col("dead") === 1, lit(0.0)).otherwise(
            round(exp(col("cum_picos").cast("double") / lit(1000000000000.0)),
              6)).as("survival"))
        .orderBy("w")
    },
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |users AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |  FROM ev GROUP BY 1),
        |e AS (SELECT max(d) AS end_d FROM ev),
        |life AS (SELECT
        |    CAST(date_diff('day', first_d, last_d) AS INT) AS w,
        |    date_diff('day', last_d, end_d) < 1 AS censored
        |  FROM users, e),
        |wk AS (SELECT w,
        |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
        |      AS BIGINT) AS deaths,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS censored
        |  FROM life GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM life),
        |risk AS (SELECT w, deaths, censored, total,
        |    CAST(sum(deaths + censored) OVER (ORDER BY w) AS BIGINT)
        |      - (deaths + censored) AS gone
        |  FROM wk, t),
        |r2 AS (SELECT w, total - gone AS n_risk, deaths, censored
        |  FROM risk),
        |r3 AS (SELECT w, n_risk, deaths, censored,
        |    CASE WHEN deaths < n_risk THEN CAST(round_even(
        |      ln(1.0 - CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      * 1000000000000.0, 0) AS BIGINT) ELSE 0 END AS t_picos,
        |    CASE WHEN deaths >= n_risk THEN 1 ELSE 0 END AS ext
        |  FROM r2),
        |r4 AS (SELECT w, n_risk, deaths, censored,
        |    round(CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)
        |      AS hazard,
        |    CAST(sum(t_picos) OVER (ORDER BY w) AS BIGINT) AS cum_picos,
        |    max(ext) OVER (ORDER BY w) AS dead
        |  FROM r3)
        |SELECT w, CAST(n_risk AS BIGINT) AS n_risk, deaths, censored,
        |  hazard,
        |  CASE WHEN dead = 1 THEN 0.0 ELSE
        |    round(exp(CAST(cum_picos AS DOUBLE) / 1000000000000.0), 6)
        |  END AS survival
        |FROM r4 ORDER BY w""".stripMargin),

    // Day-of-week seasonality decomposition: daily volume → centered
    // 7-day trend (window SUM of exact integer counts / 7.0 — not a
    // window AVG, whose internal accumulation order the two engines
    // need not share) → per-day ratio-to-trend quantized to pico-units
    // → per-DOW seasonal index. Only days with a FULL 7-day window
    // rate a ratio (the edges have no unbiased trend). DOW is pure
    // integer arithmetic (days-since-epoch-anchor mod 7), not a
    // locale-dependent dayofweek(). Corpus-scale work is ONE daily
    // aggregate; the trend/ratio windows run on the |days| table.
    QueryDef("seasonal_dow", (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("ts").cast("date").as("d"))
        .groupBy("d").agg(count(lit(1)).as("cnt"))
      val byD = Window.orderBy("d").rowsBetween(-3, 3)
      val tr = daily.select(col("d"), col("cnt"),
        sum("cnt").over(byD).as("sumw"),
        count(lit(1)).over(byD).as("nwin"))
      tr.filter(col("nwin") === 7)
        .select(
          pmod(datediff(col("d"), lit("2024-01-01").cast("date")), lit(7))
            .as("dow"),
          bround(col("cnt").cast("double")
            / (col("sumw").cast("double") / lit(7.0))
            * lit(1000000000000.0)).cast("long").as("r_picos"))
        .groupBy("dow").agg(
          count(lit(1)).as("n_days"), sum("r_picos").as("sum_picos"))
        .select(col("dow"), col("n_days"),
          round(col("sum_picos").cast("double")
            / col("n_days").cast("double") / lit(1000000000000.0), 6)
            .as("seasonal_index"))
        .orderBy("dow")
    },
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |tr AS (SELECT d, cnt,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS sumw,
        |    CAST(count(*) OVER w AS BIGINT) AS nwin
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |r AS (SELECT
        |    CAST(date_diff('day', DATE '2024-01-01', d) % 7 AS INT)
        |      AS dow,
        |    CAST(round_even(CAST(cnt AS DOUBLE)
        |      / (CAST(sumw AS DOUBLE) / 7.0)
        |      * 1000000000000.0, 0) AS BIGINT) AS r_picos
        |  FROM tr WHERE nwin = 7)
        |SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        |  round(CAST(sum(r_picos) AS DOUBLE) / count(*)
        |    / 1000000000000.0, 6) AS seasonal_index
        |FROM r GROUP BY 1 ORDER BY dow""".stripMargin),

    // RFM segmentation: recency / frequency / monetary quintiles per
    // customer, rolled up to segment counts — the canonical customer
    // scoring. Each ntile orders by (metric, o_custkey): the explicit
    // id tiebreak is what makes quintile membership deterministic
    // across engines and layouts (a bare metric sort leaves ties
    // engine-ordered). Monetary sums run in DECIMAL(18,2). The
    // corpus-scale work is ONE per-customer aggregate; the three
    // quintile windows run over the |customers| table and the rollup
    // is ≤125 rows.
    QueryDef("rfm_segments", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      val endD = o.agg(max("d").as("end_d"))
      val cust = o.groupBy("o_custkey").agg(
        max("d").as("last_d"), count(lit(1)).as("freq"), sum("p").as("mon"))
        .crossJoin(broadcast(endD))
        .select(col("o_custkey"),
          datediff(col("end_d"), col("last_d")).as("recency"),
          col("freq"), col("mon"))
      // 5 = best on every axis: recency sorts DESC (stalest first, so
      // the last tile = most recent — ranked via the NEGATED value,
      // floor stays monotone), frequency/monetary sort ASC. Ranks run
      // through DistributedRank (bucketed row_number + closed-form
      // ntile): per-customer rows are row-scale at 100 TB, so the
      // former three `Window.orderBy(metric)` single-partition sorts
      // are gone; ranks are exact integers, oracle unchanged.
      val custM = cust.localCheckpoint() // feeds 3 rank passes + count
      import graft.ops.DistributedRank.{ntileOf, withRowNumber}
      val ranked = withRowNumber(
        withRowNumber(
          withRowNumber(custM,
            -col("recency"), col("o_custkey"), "rn_r", width = 64),
          col("freq"), col("o_custkey"), "rn_f", width = 64),
        col("mon"), col("o_custkey"), "rn_m")
        .crossJoin(broadcast(custM.agg(count(lit(1)).as("nn"))))
      ranked.select(col("o_custkey"), col("mon"),
          ntileOf(col("rn_r"), col("nn"), 5).as("r"),
          ntileOf(col("rn_f"), col("nn"), 5).as("f"),
          ntileOf(col("rn_m"), col("nn"), 5).as("m"))
        .groupBy("r", "f", "m").agg(
          count(lit(1)).as("n_customers"),
          // final scalar cast to double (exact decimal → IEEE once):
          // decimal OUTPUT columns hash-mismatch vs the oracle's
          // float64 pandas bridge even when values agree
          sum("mon").cast("decimal(18,2)").cast("double")
            .as("segment_value"))
        .orderBy("r", "f", "m")
    },
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |e AS (SELECT max(d) AS end_d FROM o),
        |cust AS (SELECT o_custkey,
        |    date_diff('day', max(d), (SELECT end_d FROM e)) AS recency,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    sum(p) AS mon
        |  FROM o GROUP BY 1),
        |sc AS (SELECT o_custkey, mon,
        |    ntile(5) OVER (ORDER BY recency DESC, o_custkey) AS r,
        |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
        |    ntile(5) OVER (ORDER BY mon, o_custkey) AS m
        |  FROM cust)
        |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(CAST(sum(mon) AS DECIMAL(18,2)) AS DOUBLE) AS segment_value
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin),

    // Power-law exponent of the supplier degree distribution
    // (Clauset–Shalizi–Newman 2009 discrete MLE approximation:
    // α̂ = 1 + n / Σ ln(d / (dmin − ½)) over the tail d ≥ dmin) — the
    // scale-free check behind skew planning: α near 2 means the top
    // key carries a constant fraction of all edges (salting
    // mandatory); α > 3 means hubs vanish at scale. Distinct-edge
    // dedup + degree count are the only corpus-scale aggregates; the
    // ln terms quantize to integer pico-nats so the tail sum is
    // order-independent, and the final α is one mirrored chain.
    QueryDef("powerlaw_alpha", (s, dir) => {
      val dmin = 2.0
      val deg = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .groupBy("l_suppkey").agg(count(lit(1)).as("d"))
      deg.filter(col("d") >= dmin)
        .select(bround(log(col("d").cast("double") / lit(dmin - 0.5))
          * lit(1000000000000.0)).cast("long").as("l_picos"))
        .agg(count(lit(1)).as("n_tail"), sum("l_picos").as("sum_picos"))
        .select(col("n_tail"), lit(2).as("d_min"),
          when(col("sum_picos") > 0, round(lit(1.0)
            + col("n_tail").cast("double")
              / (col("sum_picos").cast("double") / lit(1000000000000.0)),
            6)).as("alpha_mle"))
    },
      """WITH edges AS (SELECT DISTINCT l_suppkey, l_partkey
        |  FROM lineitem),
        |deg AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS d
        |  FROM edges GROUP BY 1),
        |tail AS (SELECT CAST(round_even(
        |    ln(CAST(d AS DOUBLE) / 1.5) * 1000000000000.0, 0)
        |    AS BIGINT) AS l_picos
        |  FROM deg WHERE d >= 2.0),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
        |    CAST(sum(l_picos) AS BIGINT) AS sum_picos FROM tail)
        |SELECT n_tail, CAST(2 AS INT) AS d_min,
        |  CASE WHEN sum_picos > 0 THEN round(1.0
        |    + CAST(n_tail AS DOUBLE)
        |      / (CAST(sum_picos AS DOUBLE) / 1000000000000.0), 6)
        |  END AS alpha_mle
        |FROM agg""".stripMargin),

    // Revenue concentration: Gini coefficient (rank formula over the
    // ascending-sorted revenue vector, G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n)
    // and Herfindahl–Hirschman index (Σ shareᵢ², share² quantized to
    // pico-units before the sum) of per-customer revenue — the "does
    // one whale dominate" check that decides salting and sampling
    // strategy. Rank·revenue products stay exact (DECIMAL × int) so
    // both Σi·xᵢ and Σx enter the final chain as exact decimals; the
    // rank comes from [[graft.ops.DistributedRank]] (bucketed
    // row_number with the o_custkey tiebreak — per-customer rows are
    // row-scale at 100 TB, so no single-partition revenue sort);
    // identical integer ranks, oracle unchanged.
    QueryDef("concentration", (s, dir) => {
      val cust = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
      val ranked = graft.ops.DistributedRank.withRowNumber(
          cust, col("x"), col("o_custkey"), "i", width = 65536)
        .select(col("x"), col("i"))
      val agg = ranked.agg(
        count(lit(1)).as("n"),
        sum("x").cast("decimal(38,2)").as("total"),
        sum(col("x") * col("i")).cast("decimal(38,2)").as("s1"))
      val share2 = ranked.crossJoin(broadcast(agg.select("total")))
        .select(bround(pow(col("x").cast("double")
          / col("total").cast("double"), 2) * lit(1000000000000.0))
          .cast("long").as("sh_picos"))
        .agg(sum("sh_picos").as("hhi_picos"))
      agg.crossJoin(broadcast(share2))
        .select(col("n"), col("total").cast("decimal(18,2)").as("total"),
          round(lit(2.0) * col("s1").cast("double")
            / (col("n").cast("double") * col("total").cast("double"))
            - (col("n").cast("double") + lit(1.0)) / col("n").cast("double"),
            6).as("gini"),
          round(col("hhi_picos").cast("double") / lit(1000000000000.0), 6)
            .as("hhi"))
    },
      """WITH cust AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders GROUP BY 1),
        |ranked AS (SELECT x,
        |    row_number() OVER (ORDER BY x, o_custkey) AS i FROM cust),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DECIMAL(38,2)) AS total,
        |    CAST(sum(x * i) AS DECIMAL(38,2)) AS s1
        |  FROM ranked),
        |sh AS (SELECT CAST(sum(CAST(round_even(
        |      pow(CAST(x AS DOUBLE) / CAST(
        |        (SELECT total FROM agg) AS DOUBLE), 2)
        |      * 1000000000000.0, 0) AS BIGINT)) AS BIGINT) AS hhi_picos
        |  FROM ranked)
        |SELECT n, CAST(total AS DECIMAL(18,2)) AS total,
        |  round(2.0 * CAST(s1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
        |  round(CAST(hhi_picos AS DOUBLE) / 1000000000000.0, 6) AS hhi
        |FROM agg, sh""".stripMargin)
  )
}
