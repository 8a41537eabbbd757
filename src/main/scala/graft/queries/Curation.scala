package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.io.Tables
import graft.io.Tables.{read => t}

/** Model-evaluation and corpus-curation batch: ranking-quality (AUC),
  * probability calibration, the embedding gram/covariance matrix, and
  * tokenizer-vocabulary coverage. These are the audit queries a
  * training-data pipeline runs BETWEEN curation passes — does the
  * quality score actually rank good docs first (AUC), is the classifier
  * driving `quality_sample` calibrated, are the embedding dims feeding
  * ANN/SemDedup correlated (covariance), does the tokenizer's vocab
  * cover the corpus it will tokenize (OOV rate)?
  *
  * Same determinism contract as [[Relational]]: float components
  * quantize to integer micros before any cross-row sum, exact moments
  * accumulate in DECIMAL(38,0) ≙ DuckDB HUGEINT, every divide is a
  * final mirrored IEEE chain, every result totally ordered.
  */
object Curation {

  private val D38 = DecimalType(38, 0)

  /** Fail-loudly guard for DECIMAL(38,0) arithmetic (the Inference
    * pattern): with ANSI off an overflowed product silently NULLs where
    * the oracle's HUGEINT keeps going — raise instead of diverging.
    */
  private def chk(c: Column, what: String): Column =
    when(c.isNull,
      raise_error(lit(s"$what: exact-moment product overflowed" +
        " DECIMAL(38,0) — requantize inputs"))).otherwise(c)

  /** Embedding covariance matrix (the gram-matrix pass behind PCA
    * whitening / decorrelation of a vector corpus). The scalable shape
    * is MAP-ONLY pair generation: each row expands its own d·(d+1)/2
    * upper-triangle products via nested array `transform` (no self-join,
    * no shuffle of raw components), feeding one map-side-combinable
    * aggregate to d² cells — at 100 TB the only shuffle is d²-row
    * partial-agg merge. Components quantize to exact integer micros
    * first; Σxᵢxⱼ accumulates in DECIMAL(38,0); the centered covariance
    * (n·Sij − Si·Sj)/n² is one mirrored IEEE chain at the end. The
    * 64-row per-dim sum table broadcasts back onto the cells.
    */
  private def embedCovariance(s: SparkSession, dir: String): DataFrame = {
    val e = GraftSession.fanout(t(s, dir, "embeddings"))
      .select(expr("transform(embedding, x -> " +
        "CAST(bround(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("q"))
      .localCheckpoint() // two consumers: pair cells + per-dim sums
    val pairs = e.select(explode(expr(
      """flatten(transform(q, (xi, i) ->
        |  transform(slice(q, i + 1, size(q) - i), (xj, j) ->
        |    struct(i AS i, i + j AS j, xi * xj AS p))))""".stripMargin))
      .as("c"))
    val cell = pairs
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("p").cast(D38)).cast(D38).as("sij"))
    val dims = e.select(posexplode(col("q")))
      .groupBy(col("pos")).agg(sum("col").as("sv"))
    cell
      .join(broadcast(dims.select(col("pos").as("i"), col("sv").as("si"))),
        "i")
      .join(broadcast(dims.select(col("pos").as("j"), col("sv").as("sj"))),
        "j")
      .select(col("i"), col("j"), col("n"),
        bround(chk(col("n").cast(D38) * col("sij")
            - col("si").cast(D38) * col("sj"), "embed_covariance")
            .cast("double")
          / (col("n").cast("double") * col("n").cast("double"))
          / lit(1e12), 9).as("cov"))
      .orderBy("i", "j")
  }

  val defs: Seq[QueryDef] = Seq(
    // SCD2 dimension build — the type-2 slowly-changing-dimension
    // operator every warehouse runs: per user, CONSECUTIVE runs of the
    // same event_type collapse into one validity interval
    // [valid_from, valid_to) (gaps-and-islands: change flag + running
    // sum + one lead), the open interval per user carries NULL
    // valid_to. Emitted as a per-event_type audit (version counts,
    // open rows, exact closed-duration µs) so the output stays small
    // while the full interval table is exercised underneath. Both
    // window passes and the island group-by share ONE user_id
    // shuffle; durations are exact integer µs.
    QueryDef("scd2_audit", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val flagged = ev.withColumn("chg",
        when(lag("event_type", 1).over(wOrd).isNull ||
          lag("event_type", 1).over(wOrd) =!= col("event_type"), 1L)
          .otherwise(0L))
      val islands = flagged.withColumn("isl", sum("chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ivals = islands.groupBy("user_id", "isl")
        .agg(min("event_type").as("event_type"),
          min("us").as("valid_from"), count(lit(1)).as("n_rows"))
      val wIv = Window.partitionBy("user_id").orderBy("isl")
      val scd = ivals
        .withColumn("valid_to", lead("valid_from", 1).over(wIv))
      scd.groupBy("event_type").agg(
        count(lit(1)).as("n_versions"),
        count(when(col("valid_to").isNull, 1)).as("n_open"),
        sum(when(col("valid_to").isNotNull,
          col("valid_to") - col("valid_from"))).as("closed_dur_us"),
        sum("n_rows").as("n_events"),
        countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |      AS chg
        |    FROM e WINDOW w AS (PARTITION BY user_id
        |      ORDER BY us, event_id)),
        |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS isl
        |    FROM f),
        |v AS (SELECT user_id, isl, min(event_type) AS event_type,
        |      min(us) AS valid_from, count(*) AS n_rows
        |    FROM i GROUP BY 1, 2),
        |s AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY isl) AS valid_to FROM v)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_versions,
        |  CAST(count(*) FILTER (WHERE valid_to IS NULL) AS BIGINT)
        |    AS n_open,
        |  CAST(sum(valid_to - valid_from)
        |    FILTER (WHERE valid_to IS NOT NULL) AS BIGINT)
        |    AS closed_dur_us,
        |  CAST(sum(n_rows) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),

    // Referential-integrity audit — the FK health check a warehouse
    // runs before trusting any join-based metric: orphaned child keys
    // counted by left-anti joins (the match set never materializes),
    // with total row counts riding along as a one-row scorecard. Each
    // anti join is one co-partitioned shuffle on the audited key (or a
    // broadcast when the parent is dim-sized — Catalyst decides); a
    // zero row is the PASS certificate, pinned by the oracle.
    QueryDef("referential_orphans", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val ord = t(s, dir, "orders")
      val liOrph = li
        .join(ord.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("lineitem_orphans"))
      val ordOrph = ord.select("o_custkey")
        .join(t(s, dir, "customer").select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("order_orphans"))
      liOrph.crossJoin(ordOrph)
        .crossJoin(li.agg(count(lit(1)).as("lineitem_rows")))
        .crossJoin(ord.agg(count(lit(1)).as("order_rows")))
    },
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE NOT EXISTS (SELECT 1 FROM orders
        |     WHERE o_orderkey = l_orderkey)) AS lineitem_orphans,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE NOT EXISTS (SELECT 1 FROM customer
        |     WHERE c_custkey = o_custkey)) AS order_orphans,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
        |    AS lineitem_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS order_rows""".stripMargin),

    // ROC AUC per order priority: does o_totalprice rank the finished
    // ('F') orders above the rest? AUC ≡ the Mann–Whitney statistic, so
    // the scalable spelling is the DISTINCT-VALUE-GRID rank formula
    // (the mannwhitney_u/ks_test idiom): one hash-agg to the per-group
    // score grid, one cumulative window over the grid (bounded by score
    // cardinality, not row count), average ranks carried DOUBLED so
    // ties stay exact integers. AUC = (2·Σr₊ − n₊(n₊+1)) / (2·n₊·n₋);
    // only that final division is IEEE. No per-pair comparison ever
    // materializes — the naive AUC join is O(n₊·n₋) and this is the
    // shape that replaces it at 100 TB.
    QueryDef("auc_roc", (s, dir) => {
      val g = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c1"),
          sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("c2"))
      val w = Window.partitionBy("priority").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = g.select(col("priority"), col("c1"), col("c2"),
        (col("c1") + col("c2")).as("t"),
        coalesce(sum(col("c1") + col("c2")).over(w), lit(0L)).as("cum"))
      val a = r.groupBy("priority").agg(
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1").cast(D38) * (lit(2) * col("cum") + col("t") + 1))
          .cast(D38).as("r1x2"))
      a.select(col("priority"),
          col("n1").as("n_pos"), col("n2").as("n_neg"),
          bround(when(col("n1") > 0 && col("n2") > 0,
            (chk(col("r1x2"), "auc_roc").cast("double")
              - col("n1").cast("double") * (col("n1") + 1).cast("double"))
              / (lit(2.0) * col("n1").cast("double")
                 * col("n2").cast("double"))), 6).as("auc"))
        .orderBy("priority")
    },
      """WITH g AS (SELECT o_orderpriority AS priority, o_totalprice AS v,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS c2
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT priority, c1, c2, c1 + c2 AS t,
        |    coalesce(sum(c1 + c2) OVER (PARTITION BY priority ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g),
        |a AS (SELECT priority,
        |    CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(CAST(c1 AS HUGEINT) * (2 * cum + t + 1))
        |      AS DECIMAL(38,0)) AS r1x2
        |  FROM r GROUP BY 1)
        |SELECT priority, n1 AS n_pos, n2 AS n_neg,
        |  round_even(CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    (CAST(r1x2 AS DOUBLE)
        |      - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE))
        |    / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END, 6)
        |    AS auc
        |FROM a ORDER BY priority""".stripMargin),

    // Probability-calibration audit (reliability diagram + Brier): the
    // event value rescaled to [0,1] plays the predicted purchase
    // probability; per decile bin, predicted mean vs observed positive
    // rate, plus the per-bin Brier contribution. The BIN derives from
    // the quantized micro score (not the raw double), so the
    // bin-boundary behaviour is bit-identical across engines. One scan,
    // one 10-row hash-agg — the shape survives any corpus size.
    QueryDef("calibration_bins", (s, dir) => {
      val sm = bround(least(greatest(col("value") / lit(500.0), lit(0.0)),
        lit(1.0)) * lit(1000000.0)).cast("long")
      val q = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(sm.as("sm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .withColumn("bin",
          least(expr("sm div 100000"), lit(9L)).cast("int"))
      val err = col("sm") - col("y") * lit(1000000L)
      q.groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum("sm").as("ssum"),
          sum("y").as("pos"),
          sum((err.cast(D38) * err).cast(D38)).cast(D38).as("sqerr"))
        .select(col("bin"), col("n"), col("pos"),
          bround(col("ssum").cast("double") / col("n").cast("double")
            / lit(1000000.0), 6).as("mean_score"),
          bround(col("pos").cast("double") / col("n").cast("double"), 6)
            .as("frac_pos"),
          bround(chk(col("sqerr"), "calibration_bins").cast("double")
            / col("n").cast("double") / lit(1e12), 6).as("brier"))
        .orderBy("bin")
    },
      """WITH q AS (SELECT
        |    CAST(round_even(least(greatest(value / 500.0, 0.0), 1.0)
        |      * 1000000.0, 0) AS BIGINT) AS sm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least(sm // 100000, 9) AS bin, sm, y,
        |    sm - y * 1000000 AS err FROM q)
        |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS pos,
        |  round_even(CAST(sum(sm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000.0, 6) AS mean_score,
        |  round_even(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS frac_pos,
        |  round_even(CAST(sum(CAST(err AS HUGEINT) * err) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e12, 6) AS brier
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin),

    QueryDef("embed_covariance", embedCovariance,
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    CAST(round_even(CAST(unnest(embedding) AS DOUBLE)
        |      * 1000000.0, 0) AS BIGINT) AS xm
        |  FROM embeddings),
        |s AS (SELECT i, CAST(sum(xm) AS BIGINT) AS sv FROM e GROUP BY 1),
        |c AS (SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(a.xm AS HUGEINT) * b.xm) AS HUGEINT) AS sij
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2)
        |SELECT c.i, c.j, c.n,
        |  round_even(CAST(CAST(c.n AS HUGEINT) * c.sij
        |      - CAST(si.sv AS HUGEINT) * sj.sv AS DOUBLE)
        |    / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) / 1e12, 9)
        |    AS cov
        |FROM c JOIN s si ON si.i = c.i JOIN s sj ON sj.i = c.j
        |ORDER BY c.i, c.j""".stripMargin),

    // Power iteration for the TOP PRINCIPAL COMPONENT of the embedding
    // covariance — the eigen-step that turns embed_covariance's matrix
    // into an actual PCA direction, run entirely IN-PLAN (no driver
    // linear algebra): three unrolled rounds of w = M·v as a
    // 4096-row-matrix ⋈ 64-row-vector join + keyed sum, ∞-norm
    // normalization each round. Covariance is PSD, so the dominant
    // eigenvalue is ≥ 0 and max-abs normalization needs no sign
    // bookkeeping; the uniform start vector has nonzero overlap with
    // the top eigenvector for any non-degenerate corpus. Determinism:
    // the matrix is the ALREADY-GATED embed_covariance output
    // re-quantized to integer nanos, each w is an exact BIGINT dot
    // product (|w| ≤ 64·10⁹·10⁶ < 2⁶³), and the one division per
    // round runs on the same int64→double conversions in both engines,
    // absorbed by bround to micros. At 100 TB the corpus pass is the
    // covariance build (already map-only); each eigen-round touches
    // d² = 4096 rows — free — which is exactly why power iteration is
    // THE distributed PCA primitive.
    QueryDef("embed_power_iter", (s, dir) => {
      val cu = embedCovariance(s, dir)
        .select(col("i"), col("j"),
          bround(col("cov") * lit(1e9)).cast("long").as("m"))
        .localCheckpoint() // mirrored below; 2080 rows
      val m = cu.unionByName(cu.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("m")))
        .localCheckpoint() // consumed by 3 rounds
      val v0 = m.select(col("i").as("dim")).distinct()
        .withColumn("v", lit(1000000L))
      val st = graft.ops.IterateUntilFixed.fixed(Map("v" -> v0), 3) {
        (st, _) =>
          // pre-checkpointed: mx AND next v both read this round's w
          val w = m.join(st("v").select(col("dim").as("j"), col("v")), "j")
            .groupBy("i").agg(sum(col("m") * col("v")).as("w"))
            .localCheckpoint()
          // pre-checkpointed like w: the harness's "mx" state slot and
          // the broadcast inside next-"v" both consume this 1-row frame
          // — materializing it once here keeps the round at one agg job
          val mx = w.agg(max(abs(col("w"))).as("mx")).localCheckpoint()
          Map("mx" -> mx,
            "v" -> w.crossJoin(broadcast(mx))
              .select(col("i").as("dim"),
                bround(col("w").cast("double") * lit(1000000.0) /
                  col("mx").cast("double")).cast("long").as("v")))
      }
      st("v").crossJoin(broadcast(st("mx")))
        .select(col("dim"), col("v").as("v_micros"),
          col("mx").as("lambda_nanos"))
        .orderBy("dim")
    },
      // the covariance CTEs are the embed_covariance oracle verbatim;
      // the three eigen-rounds unroll with the same nanos/micros
      // quantization as the engine (int64→double conversions of
      // identical integers are identical in any IEEE engine)
      {
        val covBase =
          """WITH e AS (SELECT vec_id,
            |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
            |    CAST(round_even(CAST(unnest(embedding) AS DOUBLE)
            |      * 1000000.0, 0) AS BIGINT) AS xm
            |  FROM embeddings),
            |s AS (SELECT i, CAST(sum(xm) AS BIGINT) AS sv FROM e GROUP BY 1),
            |c AS (SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
            |    CAST(sum(CAST(a.xm AS HUGEINT) * b.xm) AS HUGEINT) AS sij
            |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
            |  GROUP BY 1, 2),
            |cov AS (SELECT c.i, c.j,
            |    round_even(CAST(CAST(c.n AS HUGEINT) * c.sij
            |        - CAST(si.sv AS HUGEINT) * sj.sv AS DOUBLE)
            |      / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) / 1e12, 9)
            |      AS cov
            |  FROM c JOIN s si ON si.i = c.i JOIN s sj ON sj.i = c.j),
            |cu AS (SELECT i, j,
            |    CAST(round_even(cov * 1e9, 0) AS BIGINT) AS m FROM cov),
            |mm AS MATERIALIZED (SELECT i, j, m FROM cu
            |  UNION ALL SELECT j, i, m FROM cu WHERE i <> j),
            |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS v
            |  FROM mm)""".stripMargin
        val rounds = (1 to 3).map { r =>
          s""",
             |w$r AS MATERIALIZED (SELECT mm.i,
             |    CAST(sum(mm.m * v.v) AS BIGINT) AS w
             |  FROM mm JOIN v${r - 1} v ON mm.j = v.dim GROUP BY 1),
             |x$r AS (SELECT max(abs(w)) AS mx FROM w$r),
             |v$r AS MATERIALIZED (SELECT w$r.i AS dim,
             |    CAST(round_even(CAST(w$r.w AS DOUBLE) * 1000000.0
             |      / CAST(x$r.mx AS DOUBLE), 0) AS BIGINT) AS v
             |  FROM w$r, x$r)""".stripMargin
        }.mkString
        s"""$covBase$rounds
           |SELECT v3.dim, v3.v AS v_micros, x3.mx AS lambda_nanos
           |FROM v3, x3 ORDER BY dim""".stripMargin
      }),

    // Heaps-law vocabulary-growth curve: distinct-type count and token
    // count at 10 corpus checkpoints (doc_id deciles) — the "is the
    // corpus still contributing new vocabulary?" saturation diagnostic
    // that decides whether more data of a source is worth ingesting.
    // The scalable shape: each type's FIRST document (one hash-agg) and
    // each doc's token count (one hash-agg) — both bounded by
    // vocabulary/doc count — then a broadcast 10-row checkpoint grid
    // joined with a range predicate. No token ever shuffles twice, and
    // the curve costs two aggregates regardless of corpus size.
    QueryDef("vocab_growth", (s, dir) => {
      val tok = GraftSession.fanout(t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("\\S+"),
            lit(0))).as("w"))
      val firsts = tok.groupBy("w").agg(min("doc_id").as("fd"))
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val grid = perDoc.agg(max("doc_id").as("mx"))
        .select(explode(sequence(lit(1), lit(10))).as("k"), col("mx"))
        .select(col("k"), expr("(k * mx) div 10").as("c"))
      val vocab = firsts.join(broadcast(grid), col("fd") <= col("c"))
        .groupBy("k", "c").agg(count(lit(1)).as("vocab"))
      val toks = perDoc.join(broadcast(grid), col("doc_id") <= col("c"))
        .groupBy("k", "c").agg(count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"))
      toks.join(vocab, Seq("k", "c"))
        .select(col("k").cast("int").as("k"), col("n_docs"),
          col("n_tokens"), col("vocab"),
          bround(when(col("n_tokens") > 1,
            log(col("vocab").cast("double"))
              / log(col("n_tokens").cast("double"))), 6)
            .as("heaps_beta_ub"))
        .orderBy("k")
    },
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |  FROM documents),
        |firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1),
        |per_doc AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
        |grid AS (SELECT CAST(k AS INT) AS k,
        |    (k * (SELECT max(doc_id) FROM per_doc)) // 10 AS c
        |  FROM range(1, 11) t(k)),
        |v AS (SELECT k, c, CAST(count(*) AS BIGINT) AS vocab
        |  FROM firsts JOIN grid ON fd <= c GROUP BY 1, 2),
        |tk AS (SELECT k, c, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS n_tokens
        |  FROM per_doc JOIN grid ON doc_id <= c GROUP BY 1, 2)
        |SELECT tk.k, tk.n_docs, tk.n_tokens, v.vocab,
        |  round_even(CASE WHEN tk.n_tokens > 1 THEN
        |    ln(CAST(v.vocab AS DOUBLE)) / ln(CAST(tk.n_tokens AS DOUBLE))
        |    END, 6) AS heaps_beta_ub
        |FROM tk JOIN v ON v.k = tk.k AND v.c = tk.c
        |ORDER BY tk.k""".stripMargin),

    // Small-file compaction planning (the manifest-level half of the
    // zorder_layout story): per-(source, lang) "file" sizes from the
    // documents table, packed into 8 target-size bins by cumulative-sum
    // next-fit in (source, lang) order — the deterministic, windowable
    // cousin of first-fit-decreasing that a metadata-scale planner can
    // run as ONE window over the file list (which is bounded by file
    // count, never data size; the single-partition window is fine
    // because a 100 TB table's file manifest is ~10⁵ rows). The target
    // derives from the total (total/8 rounded up), so the plan shape is
    // scale-free.
    QueryDef("compaction_bins", (s, dir) => {
      val files = t(s, dir, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
      val total = files.agg(sum("bytes").as("tb"))
      val w = Window.orderBy("source", "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
      files.crossJoin(broadcast(total))
        .withColumn("cum", coalesce(sum("bytes").over(w), lit(0L)))
        .withColumn("bin",
          least(expr("cum div ((tb + 7) div 8)"), lit(7L)).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_docs"),
          sum("bytes").as("bytes"),
          min(concat_ws("/", col("source"), col("lang"))).as("first_file"),
          max(concat_ws("/", col("source"), col("lang"))).as("last_file"))
        .orderBy("bin")
    },
      """WITH f AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT *,
        |    coalesce(CAST(sum(bytes) OVER (ORDER BY source, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    (SELECT sum(bytes) FROM f) AS tb
        |  FROM f)
        |SELECT CAST(least(cum // ((tb + 7) // 8), 7) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(source || '/' || lang) AS first_file,
        |  max(source || '/' || lang) AS last_file
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin),

    // Benford's-law leading-digit audit over order totals — the
    // synthetic-data / fraud smell test (organically-sized amounts
    // follow log10(1+1/d); generated or tampered ones usually don't).
    // The leading digit comes from the DECIMAL-CENTS STRING (BIGINT →
    // VARCHAR renders identically in both engines), never from
    // floating log10 whose boundary ulp could disagree. One scan, a
    // 9-row aggregate, expected shares and the χ² distance quantized
    // the chi_square way.
    QueryDef("benford_audit", (s, dir) => {
      val cents = bround(col("o_totalprice") * lit(100.0)).cast("long")
      val d = t(s, dir, "orders")
        .select(cents.as("c")).filter(col("c") >= 1)
        .select(substring(col("c").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = d.agg(sum("n").as("tot"))
      // ln-ratio spelling (ln ≡ DuckDB ln, ÷ is IEEE) and an explicit
      // square — no log10/pow library paths whose last ulp could
      // differ between engines
      val ben = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
        log(lit(10.0))
      val obs = col("n").cast("double") / col("tot").cast("double")
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          bround(obs, 6).as("observed"),
          bround(ben, 6).as("benford"),
          // χ² term on the share scale, micro-quantized
          bround((obs - ben) * (obs - ben) / ben * lit(1000000.0))
            .cast("long").as("chi2_term_micros"))
        .orderBy("digit")
    },
      """WITH c AS (SELECT CAST(round_even(o_totalprice * 100.0, 0)
        |    AS BIGINT) AS c FROM orders),
        |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT)
        |    AS digit, CAST(count(*) AS BIGINT) AS n
        |  FROM c WHERE c >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d)
        |SELECT digit, n,
        |  round_even(CAST(n AS DOUBLE) / tot, 6) AS observed,
        |  round_even(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
        |  CAST(round_even(
        |    (CAST(n AS DOUBLE) / tot - ln(1.0 + 1.0 / digit) / ln(10.0))
        |    * (CAST(n AS DOUBLE) / tot - ln(1.0 + 1.0 / digit) / ln(10.0))
        |    / (ln(1.0 + 1.0 / digit) / ln(10.0)) * 1000000.0, 0)
        |    AS BIGINT) AS chi2_term_micros
        |FROM d, t ORDER BY digit""".stripMargin),

    // Deterministic keyed pseudonymization of user ids (the GDPR-style
    // tokenization pass): token = 60-bit md5 of a secret-salted id —
    // stable across runs for joinability, irreversible without the
    // salt. The audit columns PROVE the properties the downstream
    // pipeline relies on: token count == id count (injectivity over
    // this corpus) and zero tokens colliding across distinct ids. One
    // distinct + two scalar aggregates, map-side combinable.
    QueryDef("pseudonymize", (s, dir) => {
      val ids = Tables.events(s, dir).select(col("user_id")).distinct()
      val tok = ids.select(col("user_id"),
        graft.llm.Dedup.fingerprint60(
          concat(lit("graft-salt-v1:"), col("user_id").cast("string")))
          .as("token"))
      tok.agg(
        count(lit(1)).as("n_ids"),
        countDistinct("token").as("n_tokens"),
        (count(lit(1)) - countDistinct("token")).as("collisions"),
        min("token").as("min_token"), max("token").as("max_token"))
    },
      """WITH ids AS (SELECT DISTINCT user_id FROM events),
        |tok AS (SELECT user_id,
        |    CAST('0x' || substr(md5('graft-salt-v1:' ||
        |      CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS token
        |  FROM ids)
        |SELECT CAST(count(*) AS BIGINT) AS n_ids,
        |  count(DISTINCT token) AS n_tokens,
        |  CAST(count(*) - count(DISTINCT token) AS BIGINT) AS collisions,
        |  min(token) AS min_token, max(token) AS max_token
        |FROM tok""".stripMargin),

    // Snapshot diff — the "what changed between pipeline runs" audit:
    // two snapshots compared by primary key with one FULL OUTER join on
    // (pk, row-fingerprint), classified added/removed/changed/
    // unchanged and rolled up. The shuffle carries (pk, 16-byte md5),
    // never the rows; at 100 TB the diff costs one co-partitioned join
    // at 24 bytes/row. Snapshot B derives deterministically from A
    // (drop pk%97, bump value on pk%13, append pk%101 under shifted
    // ids) so the oracle reconstructs both sides from the events table
    // alone and the expected class counts are data-defined.
    QueryDef("snapshot_diff", (s, dir) => {
      val base = Tables.events(s, dir).select(col("event_id"),
        col("user_id"), col("event_type"),
        bround(col("value") * lit(1000000.0)).cast("long").as("vm"))
      val mutated = base.filter(pmod(col("event_id"), lit(97)) =!= 0)
        .withColumn("vm",
          when(pmod(col("event_id"), lit(13)) === 0,
            coalesce(col("vm"), lit(0L)) + 1).otherwise(col("vm")))
      val appended = base.filter(pmod(col("event_id"), lit(101)) === 0)
        .select((col("event_id") + lit(1000000000000L)).as("event_id"),
          col("user_id"), col("event_type"), col("vm"))
      def fp(df: DataFrame, as: String): DataFrame =
        df.select(col("event_id"),
          md5(concat_ws("|", col("user_id").cast("string"),
            col("event_type"),
            coalesce(col("vm").cast("string"), lit("")))
            .cast("binary")).as(as))
      fp(base, "ha")
        .join(fp(mutated.unionByName(appended), "hb"),
          Seq("event_id"), "full_outer")
        .select(
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("unchanged").as("change_type"),
          col("event_id"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("change_type")
    },
      """WITH base AS (SELECT event_id, user_id, event_type,
        |    CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS vm
        |  FROM events),
        |a AS (SELECT event_id, md5(CAST(user_id AS VARCHAR) || '|' ||
        |    event_type || '|' || coalesce(CAST(vm AS VARCHAR), ''))
        |    AS ha FROM base),
        |bsrc AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 13 = 0 THEN coalesce(vm, 0) + 1
        |      ELSE vm END AS vm
        |  FROM base WHERE event_id % 97 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000000, user_id, event_type, vm
        |  FROM base WHERE event_id % 101 = 0),
        |b AS (SELECT event_id, md5(CAST(user_id AS VARCHAR) || '|' ||
        |    event_type || '|' || coalesce(CAST(vm AS VARCHAR), ''))
        |    AS hb FROM bsrc),
        |j AS (SELECT coalesce(a.event_id, b.event_id) AS event_id,
        |    ha, hb
        |  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
        |SELECT CASE WHEN ha IS NULL THEN 'added'
        |    WHEN hb IS NULL THEN 'removed'
        |    WHEN ha <> hb THEN 'changed'
        |    ELSE 'unchanged' END AS change_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin),

    // NULL imputation with the per-group exact median — the "fill
    // missing features before training" pass, with its audit columns
    // (how many rows were touched, with what value). The median table
    // is groups-sized → broadcast back; the filled sum quantizes per
    // row so the audit total is exact in both engines. One scan + one
    // bounded aggregate + one broadcast join at any corpus size.
    // The median is the LOWER median — an actual data value picked off
    // the distinct-value grid (one cumulative window bounded by value
    // cardinality), not an interpolated quantile: interpolation is an
    // IEEE chain whose last-ulp could differ between engines and flip
    // the per-row quantization; an element of the input cannot.
    QueryDef("impute_median", (s, dir) => {
      val ev = Tables.events(s, dir)
      val grid = ev.filter(col("value").isNotNull)
        .groupBy("event_type", "value").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("value")
      val med = grid
        .select(col("event_type"), col("value"),
          sum("c").over(w).as("cum"),
          sum("c").over(Window.partitionBy("event_type")).as("n"))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("event_type").agg(min("value").as("med"))
      ev.join(broadcast(med), Seq("event_type"), "left")
        .select(col("event_type"), col("value"),
          coalesce(col("value"), col("med")).as("filled"), col("med"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("value").isNull, 1)).as("n_filled"),
          bround(max("med"), 6).as("median_used"),
          sum(bround(col("filled") * lit(1000000.0)).cast("long"))
            .as("filled_sum_micros"))
        .orderBy("event_type")
    },
      """WITH g AS (SELECT event_type, value, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, value,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM g),
        |med AS (SELECT event_type, min(value) AS med
        |  FROM r WHERE cum >= (n + 1) // 2 GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN e.value IS NULL THEN 1 END) AS BIGINT)
        |    AS n_filled,
        |  round_even(max(med.med), 6) AS median_used,
        |  CAST(sum(CAST(round_even(coalesce(e.value, med.med)
        |    * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS filled_sum_micros
        |FROM events e LEFT JOIN med ON med.event_type = e.event_type
        |GROUP BY 1 ORDER BY e.event_type""".stripMargin),

    // Cross-source duplicate matrix: for every source pair, how many
    // 8-token OPENING fingerprints they share — the blocking key of a
    // "same article, different site" audit (full-content fingerprints
    // find nothing across the harness sources; shared openings do).
    // Exact where self_overlap_sample bounds by sampling, because the
    // join key is the fingerprint: per-fp fan-out is capped by the
    // source count (≤ C(20,2) pairs), so the "quadratic" overlap is
    // linear in corpus size with a bounded constant. Shuffle carries
    // (source, 16-byte fp), never text.
    QueryDef("overlap_matrix", (s, dir) => {
      val fp = GraftSession.fanout(t(s, dir, "documents"))
        .select(col("source"),
          md5(array_join(slice(
            regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)),
            1, 8), " ").cast("binary")).as("fp"))
        .distinct()
        .localCheckpoint() // both join sides read it
      fp.select(col("source").as("src_a"), col("fp"))
        .join(fp.select(col("source").as("src_b"), col("fp")), Seq("fp"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("shared"))
        .orderBy("src_a", "src_b")
    },
      """WITH fp AS (SELECT DISTINCT source,
        |    md5(array_to_string(
        |      regexp_extract_all(lower(text), '\S+')[1:8], ' ')) AS fp
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),

    // Tokenizer-vocabulary coverage: the top-500 tokens of the src0
    // slice play the tokenizer vocab (rank by count desc, token asc —
    // a total order, so the cut is deterministic); every other source
    // is audited for OOV rate against it. The vocab selection is
    // TakeOrdered (no global single-partition sort) and the vocab
    // BROADCASTS into the token stream — the corpus-side scan never
    // shuffles its tokens, only the per-source aggregate does. This is
    // the pre-training audit for "will this tokenizer fragment the
    // long tail of the mix?".
    QueryDef("vocab_coverage", (s, dir) => {
      val tok = GraftSession.fanout(t(s, dir, "documents"))
        .select(col("source"),
          explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
            .as("w"))
        .localCheckpoint() // two consumers: vocab build + coverage scan
      val vocab = tok.filter(col("source") === "src0")
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc)
        .limit(500)
        .select(col("w"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("oov_tokens"),
          countDistinct(when(col("in_vocab").isNull, col("w")))
            .as("oov_types"))
        .select(col("source"), col("n_tokens"), col("oov_tokens"),
          col("oov_types"),
          bround(col("oov_tokens").cast("double")
            / col("n_tokens").cast("double"), 6).as("oov_rate"))
        .orderBy("source")
    },
      """WITH tok AS (SELECT source,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |  FROM documents),
        |voc AS (SELECT w FROM (
        |    SELECT w, count(*) AS c FROM tok WHERE source = 'src0'
        |    GROUP BY 1)
        |  QUALIFY row_number() OVER (ORDER BY c DESC, w ASC) <= 500)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(CASE WHEN voc.w IS NULL THEN 1 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST(count(DISTINCT CASE WHEN voc.w IS NULL THEN tok.w END)
        |    AS BIGINT) AS oov_types,
        |  round_even(CAST(count(CASE WHEN voc.w IS NULL THEN 1 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        |FROM tok LEFT JOIN voc ON tok.w = voc.w
        |GROUP BY source ORDER BY source""".stripMargin),

    // Training-batch padding audit — the packing-efficiency readout a
    // data-parallel trainer cares about: fixed batches of 32 docs are
    // padded to the longest sequence in the batch, so token waste =
    // Σ_batches (n·max − Σlen). Two policies compared side by side:
    // arrival order (doc_id) vs length-sorted batching (the standard
    // bucketing trick), per language shard. Both row_number passes
    // share ONE lang hash partitioning — batching is per-shard by
    // design (each data-parallel worker packs its own shard), so there
    // is NO global sort anywhere. All integer arithmetic; the waste
    // ratio is the single final IEEE division.
    QueryDef("batch_padding", (s, dir) => {
      val d = GraftSession.fanout(t(s, dir, "documents"))
        .select(col("lang"), col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("len"))
      val wA = Window.partitionBy("lang").orderBy("doc_id")
      val wS = Window.partitionBy("lang").orderBy("len", "doc_id")
      val u = d
        .withColumn("rn_a", row_number().over(wA))
        .withColumn("rn_s", row_number().over(wS))
        .select(col("lang"), col("len"), explode(array(
          struct(lit("arrival").as("policy"), col("rn_a").as("rn")),
          struct(lit("sorted").as("policy"), col("rn_s").as("rn"))))
          .as("p"))
        .select(col("lang"), col("p.policy").as("policy"), col("len"),
          expr("CAST((p.rn - 1) DIV 32 AS INT)").as("b"))
      val batches = u.groupBy("lang", "policy", "b").agg(
        count(lit(1)).as("n_docs"), max("len").as("mx"),
        sum("len").as("sm"))
      val pad = col("n_docs") * col("mx") - col("sm")
      batches.groupBy("lang", "policy").agg(
          count(lit(1)).as("n_batches"),
          sum("sm").as("real_tokens"),
          sum(pad).as("pad_tokens"),
          max(pad).as("max_batch_pad"))
        .select(col("lang"), col("policy"), col("n_batches"),
          col("real_tokens"), col("pad_tokens"), col("max_batch_pad"),
          bround(col("pad_tokens").cast("double")
            / (col("pad_tokens") + col("real_tokens")).cast("double"), 6)
            .as("waste_pct"))
        .orderBy("lang", "policy")
    },
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS len
        |  FROM documents),
        |r AS (SELECT lang, len,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn_a,
        |    row_number() OVER (PARTITION BY lang ORDER BY len, doc_id)
        |      AS rn_s
        |  FROM d),
        |u AS (SELECT lang, 'arrival' AS policy, len, rn_a AS rn FROM r
        |      UNION ALL
        |      SELECT lang, 'sorted' AS policy, len, rn_s AS rn FROM r),
        |b AS (SELECT lang, policy, CAST((rn - 1) // 32 AS INT) AS b,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(max(len) AS BIGINT) AS mx, CAST(sum(len) AS BIGINT) AS sm
        |  FROM u GROUP BY 1, 2, 3)
        |SELECT lang, policy, CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(sm) AS BIGINT) AS real_tokens,
        |  CAST(sum(n_docs * mx - sm) AS BIGINT) AS pad_tokens,
        |  CAST(max(n_docs * mx - sm) AS BIGINT) AS max_batch_pad,
        |  CAST(round_even(CAST(sum(n_docs * mx - sm) AS DOUBLE)
        |    / CAST(sum(n_docs * mx - sm) + sum(sm) AS DOUBLE), 6)
        |    AS DOUBLE) AS waste_pct
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Column-encoding advisor — the storage audit behind every
    // "should this 100 TB column be RLE, dictionary, or plain" layout
    // decision: per column: cardinality, value-run count WITHIN each
    // order group under ONE canonical row order (runs are a per-file
    // property, so they're counted inside a bounded partition — no
    // global sort), byte volume, and ceil(log2(distinct)) dictionary
    // index width. The integer decision rule (RLE if n ≥ 4·runs, else
    // DICT if the dictionary is small and amortized 16×, else PLAIN)
    // mirrors verbatim in the oracle.
    //
    // Plan shape (the round-12 rewrite — previously a stack() unpivot
    // put 5× the rows through the window exchange+sort and the
    // distinct aggregation): ALL FIVE run-start flags come out of ONE
    // window pass over the base rows — same window spec, five lag
    // expressions each bound ONCE, one exchange of n rows instead of
    // 5n — ordered by the one canonical tiebreak (l_linenumber, then
    // all five values; (l_orderkey, l_linenumber) is not unique in
    // the fixture, and a per-column value tiebreak would need
    // per-column sorts again). The five cardinalities deliberately do
    // NOT share that aggregate: a multi-countDistinct Expand would
    // key its non-distinct branch by the near-unique 5-value tuple
    // (an n-entry hash map + n-row shuffle — measured 2× the whole
    // query). Instead each runs as its own single-distinct branch
    // over a column-pruned scan, where map-side partial dedup
    // collapses the shuffle to the column's cardinality; the 1-row
    // branches cross-join back. The 5-way unpivot then runs on the
    // 1-row aggregate.
    QueryDef("encoding_audit", (s, dir) => {
      val colDefs = Seq(
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"),
        "l_suppkey" -> col("l_suppkey").cast("string"),
        "l_partkey" -> col("l_partkey").cast("string"),
        "l_shipday" -> col("l_shipdate").cast("date").cast("string"))
      val base = t(s, dir, "lineitem").select(
        col("l_orderkey") +: col("l_linenumber") +:
          colDefs.map { case (n, c) => c.as(s"v_$n") }: _*)
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber") +:
          colDefs.map { case (n, _) => col(s"v_$n") }: _*)
      val lagged = colDefs.foldLeft(base) { case (df, (n, _)) =>
        df.withColumn(s"lg_$n", lag(col(s"v_$n"), 1).over(w))
      }
      val flagged = colDefs.foldLeft(lagged) { case (df, (n, _)) =>
        df.withColumn(s"rs_$n",
          when(col(s"lg_$n").isNull ||
            col(s"lg_$n") =!= col(s"v_$n"), 1L).otherwise(0L))
          .drop(s"lg_$n")
      }
      val sums = flagged.agg(
        count(lit(1)).as("n"),
        colDefs.flatMap { case (n, _) => Seq(
          sum(col(s"rs_$n")).as(s"runs_$n"),
          sum(length(col(s"v_$n"))).as(s"bytes_$n"))
        }: _*)
      val oneRow = colDefs.foldLeft(sums) { case (df, (n, c)) =>
        df.crossJoin(t(s, dir, "lineitem")
          .agg(countDistinct(c).as(s"nd_$n")))
      }
      val m = oneRow.selectExpr("n",
        "stack(5, " + colDefs.map { case (n, _) =>
          s"'$n', nd_$n, runs_$n, bytes_$n" }.mkString(", ") +
          ") AS (col_name, n_distinct, runs, bytes_plain)")
      val bits = when(col("n_distinct") <= 1, 0)
        .otherwise(length(conv(col("n_distinct") - 1, 10, 2)))
      m.select(col("col_name"), col("n"), col("n_distinct"), col("runs"),
          col("bytes_plain"), bits.cast("int").as("dict_bits"),
          bround(col("n").cast("double") / col("runs").cast("double"), 4)
            .as("avg_run_len"),
          when(col("n") >= col("runs") * 4, "rle")
            .when(col("n_distinct") <= 65536 &&
              col("n") >= col("n_distinct") * 16, "dict")
            .otherwise("plain").as("encoding"))
        .orderBy("col_name")
    },
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    l_returnflag AS v_rf, l_linestatus AS v_ls,
        |    CAST(l_suppkey AS VARCHAR) AS v_sk,
        |    CAST(l_partkey AS VARCHAR) AS v_pk,
        |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS v_sd
        |  FROM lineitem),
        |f AS (SELECT v_rf, v_ls, v_sk, v_pk, v_sd,
        |    CASE WHEN lag(v_rf) OVER w IS NULL OR lag(v_rf) OVER w <> v_rf
        |         THEN 1 ELSE 0 END AS rs_rf,
        |    CASE WHEN lag(v_ls) OVER w IS NULL OR lag(v_ls) OVER w <> v_ls
        |         THEN 1 ELSE 0 END AS rs_ls,
        |    CASE WHEN lag(v_sk) OVER w IS NULL OR lag(v_sk) OVER w <> v_sk
        |         THEN 1 ELSE 0 END AS rs_sk,
        |    CASE WHEN lag(v_pk) OVER w IS NULL OR lag(v_pk) OVER w <> v_pk
        |         THEN 1 ELSE 0 END AS rs_pk,
        |    CASE WHEN lag(v_sd) OVER w IS NULL OR lag(v_sd) OVER w <> v_sd
        |         THEN 1 ELSE 0 END AS rs_sd
        |  FROM b WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, v_rf, v_ls, v_sk, v_pk, v_sd)),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT v_rf) AS BIGINT) AS nd_rf,
        |    CAST(sum(rs_rf) AS BIGINT) AS runs_rf,
        |    CAST(sum(length(v_rf)) AS BIGINT) AS bytes_rf,
        |    CAST(count(DISTINCT v_ls) AS BIGINT) AS nd_ls,
        |    CAST(sum(rs_ls) AS BIGINT) AS runs_ls,
        |    CAST(sum(length(v_ls)) AS BIGINT) AS bytes_ls,
        |    CAST(count(DISTINCT v_sk) AS BIGINT) AS nd_sk,
        |    CAST(sum(rs_sk) AS BIGINT) AS runs_sk,
        |    CAST(sum(length(v_sk)) AS BIGINT) AS bytes_sk,
        |    CAST(count(DISTINCT v_pk) AS BIGINT) AS nd_pk,
        |    CAST(sum(rs_pk) AS BIGINT) AS runs_pk,
        |    CAST(sum(length(v_pk)) AS BIGINT) AS bytes_pk,
        |    CAST(count(DISTINCT v_sd) AS BIGINT) AS nd_sd,
        |    CAST(sum(rs_sd) AS BIGINT) AS runs_sd,
        |    CAST(sum(length(v_sd)) AS BIGINT) AS bytes_sd
        |  FROM f),
        |m AS (
        |  SELECT 'l_returnflag' AS col_name, n, nd_rf AS n_distinct,
        |    runs_rf AS runs, bytes_rf AS bytes_plain FROM g
        |  UNION ALL SELECT 'l_linestatus', n, nd_ls, runs_ls, bytes_ls
        |    FROM g
        |  UNION ALL SELECT 'l_suppkey', n, nd_sk, runs_sk, bytes_sk
        |    FROM g
        |  UNION ALL SELECT 'l_partkey', n, nd_pk, runs_pk, bytes_pk
        |    FROM g
        |  UNION ALL SELECT 'l_shipday', n, nd_sd, runs_sd, bytes_sd
        |    FROM g)
        |SELECT col_name, n, n_distinct, runs, bytes_plain,
        |  CAST(CASE WHEN n_distinct <= 1 THEN 0
        |       ELSE length(bin(n_distinct - 1)) END AS INT) AS dict_bits,
        |  CAST(round_even(CAST(n AS DOUBLE) / CAST(runs AS DOUBLE), 4)
        |    AS DOUBLE) AS avg_run_len,
        |  CASE WHEN n >= runs * 4 THEN 'rle'
        |       WHEN n_distinct <= 65536 AND n >= n_distinct * 16
        |         THEN 'dict'
        |       ELSE 'plain' END AS encoding
        |FROM m ORDER BY col_name""".stripMargin),

    // Zone-map skip audit — WHY a 100 TB table gets laid out sorted:
    // simulate 32 files under two layouts (natural = contiguous
    // orderkey ranges, sorted = contiguous shipdate ranges — both
    // range assignments from a 1-row min/max broadcast, NO global
    // sort), build each file's min/max shipdate zone map, and count
    // how many files a 3-month range predicate can skip under each.
    // rows_scanned vs selected_rows is the read amplification the
    // sorted layout removes. All integer day arithmetic.
    QueryDef("zonemap_skip", (s, dir) => {
      val lo = 882L // days 1995-01-01 → 1997-06-01 (mirrored in SQL)
      val hi = 973L // → 1997-08-31
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          datediff(col("l_shipdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("day"))
        .localCheckpoint() // feeds the bounds row AND both layouts
      val bounds = li.agg(max("l_orderkey").as("mxk"),
        min("day").as("mnd"), max("day").as("mxd"))
      val files = li.crossJoin(broadcast(bounds))
        .select(col("day"), explode(array(
          struct(lit("natural").as("layout"),
            expr("CAST(least(31, (l_orderkey * 32) DIV (mxk + 1)) AS INT)")
              .as("f")),
          struct(lit("sorted").as("layout"),
            expr("CAST(least(31, ((day - mnd) * 32) DIV (mxd - mnd + 1))" +
              " AS INT)").as("f")))).as("p"))
        .select(col("day"), col("p.layout").as("layout"), col("p.f").as("f"))
      val zones = files.groupBy("layout", "f").agg(
        count(lit(1)).as("rows"), min("day").as("mn"), max("day").as("mx"),
        sum(when(col("day").between(lo, hi), 1L).otherwise(0L))
          .as("sel"))
      val scanned = !(col("mx") < lo || col("mn") > hi)
      zones.groupBy("layout").agg(
          count(lit(1)).as("n_files"),
          sum(when(scanned, 1L).otherwise(0L)).as("files_scanned"),
          sum(when(scanned, col("rows")).otherwise(0L)).as("rows_scanned"),
          sum("rows").as("total_rows"),
          sum("sel").as("selected_rows"))
        .select(col("layout"), col("n_files"), col("files_scanned"),
          col("rows_scanned"), col("total_rows"), col("selected_rows"),
          bround(lit(1.0) - col("rows_scanned").cast("double")
            / col("total_rows").cast("double"), 6).as("skip_rate"))
        .orderBy("layout")
    },
      """WITH li AS (SELECT l_orderkey,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1995-01-01' AS BIGINT)
        |      AS day
        |  FROM lineitem),
        |b AS (SELECT max(l_orderkey) AS mxk, min(day) AS mnd,
        |    max(day) AS mxd FROM li),
        |f AS (SELECT day, 'natural' AS layout,
        |    CAST(least(31, (l_orderkey * 32) // (b.mxk + 1)) AS INT) AS f
        |  FROM li CROSS JOIN b
        |  UNION ALL
        |  SELECT day, 'sorted' AS layout,
        |    CAST(least(31, ((day - b.mnd) * 32) // (b.mxd - b.mnd + 1))
        |      AS INT) AS f
        |  FROM li CROSS JOIN b),
        |lohi AS (SELECT
        |    CAST(DATE '1997-06-01' - DATE '1995-01-01' AS BIGINT) AS lo,
        |    CAST(DATE '1997-08-31' - DATE '1995-01-01' AS BIGINT) AS hi),
        |z AS (SELECT layout, f, CAST(count(*) AS BIGINT) AS rows_,
        |    min(day) AS mn, max(day) AS mx,
        |    CAST(sum(CASE WHEN day BETWEEN lohi.lo AND lohi.hi
        |      THEN 1 ELSE 0 END) AS BIGINT) AS sel
        |  FROM f CROSS JOIN lohi GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN NOT (mx < lohi.lo OR mn > lohi.hi)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN NOT (mx < lohi.lo OR mn > lohi.hi)
        |    THEN rows_ ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(rows_) AS BIGINT) AS total_rows,
        |  CAST(sum(sel) AS BIGINT) AS selected_rows,
        |  CAST(round_even(1.0 - CAST(sum(CASE WHEN NOT (mx < lohi.lo
        |      OR mn > lohi.hi) THEN rows_ ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rows_) AS DOUBLE), 6) AS DOUBLE) AS skip_rate
        |FROM z CROSS JOIN lohi GROUP BY layout ORDER BY layout""".stripMargin),

    // URL parsing surface — the web-crawl curation verbs (host
    // extraction, path/query split, tracking-param detection) through
    // Spark's parse_url, gated against ground truth the oracle can
    // construct: URLs are derived deterministically from doc fields,
    // so the oracle knows exactly what HOST/PATH/QUERY(ref) must come
    // back and any parser divergence breaks the hash. Map-only until
    // the small per-host aggregate.
    QueryDef("url_extract", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("lang"), lit("/"),
          col("doc_id").cast("string"), lit("?ref=r"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit("&utm_source=feed")))
      d.select(col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'ref')").as("ref"),
          expr("parse_url(url, 'QUERY', 'utm_source')").as("utm"))
        .groupBy("host").agg(
          count(lit(1)).as("n_urls"),
          countDistinct("path").as("n_paths"),
          countDistinct("ref").as("n_refs"),
          sum(when(col("utm") === "feed", 1L).otherwise(0L))
            .as("n_tracked"),
          min("path").as("first_path"))
        .orderBy("host")
    },
      """WITH d AS (SELECT doc_id,
        |    source || '.example.com' AS host,
        |    '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
        |    'r' || CAST(doc_id % 7 AS VARCHAR) AS ref
        |  FROM documents)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
        |  CAST(count(DISTINCT ref) AS BIGINT) AS n_refs,
        |  CAST(count(*) AS BIGINT) AS n_tracked,
        |  min(path) AS first_path
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // Smoothed target encoding (the empirical-Bayes category encoder a
    // feature pipeline runs before training): segment → shrunk mean
    // order value, enc = (n_g·mean_g + k·prior)/(n_g + k) with k=20
    // and prior = the global mean. Common-denominator algebra keeps it
    // EXACT until one double chain: enc = (N·sum_g + k·S)/(N·(n_g+k))
    // over integer cents in DECIMAL(38,0) ≙ HUGEINT with the chk()
    // trap (N·sum_g overflows BIGINT at ~100× this fixture). One
    // broadcast-joined dimension + two hash-aggs; the small-category
    // shrink toward the prior is the whole point — the spec plants a
    // 1-order segment and watches it pulled to the middle.
    QueryDef("target_encode", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        expr("CAST(bround(o_totalprice * 100) AS BIGINT)").as("cents"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val byseg = o.join(broadcast(c), Seq("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val glob = byseg.agg(sum("n").as("nn"), sum("sum_cents").as("ss"))
      val num = chk(col("nn").cast(D38) * col("sum_cents").cast(D38) +
        lit(20).cast(D38) * col("ss").cast(D38), "target_encode")
      val den = chk(col("nn").cast(D38) *
        (col("n") + lit(20L)).cast(D38), "target_encode")
      byseg.crossJoin(broadcast(glob))
        .select(col("c_mktsegment"), col("n"),
          bround(col("sum_cents").cast("double") /
            col("n").cast("double") / lit(100.0), 6).as("raw_mean"),
          bround(num.cast("double") / den.cast("double") / lit(100.0), 6)
            .as("encoded_mean"))
        .orderBy("c_mktsegment")
    },
      """WITH o AS (SELECT o_custkey,
        |    CAST(round_even(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |byseg AS (SELECT c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM o JOIN customer ON o.o_custkey = customer.c_custkey
        |  GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(sum_cents) AS BIGINT) AS ss FROM byseg)
        |SELECT c_mktsegment, n,
        |  round_even(CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 100.0, 6) AS raw_mean,
        |  round_even(CAST(CAST(nn AS HUGEINT) * sum_cents
        |      + 20 * CAST(ss AS HUGEINT) AS DOUBLE) /
        |    CAST(CAST(nn AS HUGEINT) * (n + 20) AS DOUBLE) / 100.0, 6)
        |    AS encoded_mean
        |FROM byseg CROSS JOIN g ORDER BY c_mktsegment""".stripMargin)
  )
}
