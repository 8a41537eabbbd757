package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.io.{Scratch, Tables}
import graft.io.Tables.{read => t}
import graft.llm.{Dedup, Ranking, Similarity, TextAnalysis}
import graft.ops.Graphs

/** Round-8 batch: corpus ranking and scoring (BM25, PMI collocations,
  * char entropy), exact-substring near-dup fingerprints, rendezvous
  * sharding, a link-analysis (PageRank) iteration, rolling distinct
  * reach, and equi-depth binning.
  *
  * Same determinism contract as [[Relational]]/[[Analytics]]: integer
  * quantization before any cross-row float sum, DECIMAL for money,
  * fixed IEEE chains mirrored verbatim in the oracle, total ORDER BY.
  */
object Scoring {

  /** Query terms for the registered BM25 ranking and the inverted-index
    * probe — shared with the oracles so the two sides can't drift. Both
    * terms occur as exact tokens at every scale factor ("model" does
    * not — a probe for it would emit nothing and weaken the check).
    */
  private val bm25Terms = Seq("data", "filter")

  /** Samples per stratum for `pps_systematic` — interpolated into the
    * oracle SQL (like the signLsh minCosine) so the two sides can't
    * drift.
    */
  private val ppsSamplesPerStratum = 200L

  val defs: Seq[QueryDef] = Seq(
    QueryDef("bm25_rank", (s, dir) =>
      Ranking.bm25TopDocs(t(s, dir, "documents"), bm25Terms, k = 20),
      // parameters mirror the registered queries above; round_even ≙
      // Spark bround (half-even)
      {
        val terms = bm25Terms.map(q => s"'$q'").mkString(", ")
        s"""WITH t AS (SELECT doc_id,
           |    unnest(regexp_extract_all(lower(text), '\\S+')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY 1),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |  CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
           |qt AS (SELECT unnest([$terms]) AS term),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM t JOIN qt USING (term) GROUP BY 1, 2),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
           |sc AS (
           |  SELECT tf.doc_id,
           |    CAST(round_even(ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0)
           |      * (CAST(tf.tf AS DOUBLE) * 2.2)
           |      / (CAST(tf.tf AS DOUBLE)
           |         + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))
           |      * 1000000.0, 0) AS BIGINT) AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats)
           |SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_micros FROM sc
           |GROUP BY 1 ORDER BY score_micros DESC, doc_id LIMIT 20""".stripMargin
      }),
    // hybrid-retrieval fusion: BM25 ⊕ TF-IDF top-50 lists combined by
    // reciprocal rank — see [[Ranking.rrfFusion]]
    QueryDef("rank_fusion", (s, dir) =>
      Ranking.rrfFusion(t(s, dir, "documents"), bm25Terms),
      // both constituent rankers replayed at n=50, ranked by
      // (score DESC, doc_id), fused with per-term micro-quantized
      // 1/(60+rank); bm25's N counts tokenized docs (dl), tf-idf's N
      // counts all docs — mirroring the two engines' definitions
      {
        val terms = bm25Terms.map(q => s"'$q'").mkString(", ")
        s"""WITH t AS (SELECT doc_id,
           |    unnest(regexp_extract_all(lower(text), '\\S+')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY 1),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |  CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
           |qt AS (SELECT unnest([$terms]) AS term),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM t JOIN qt USING (term) GROUP BY 1, 2),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
           |bm AS (
           |  SELECT doc_id, CAST(sum(CAST(round_even(
           |      ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0)
           |      * (CAST(tf.tf AS DOUBLE) * 2.2)
           |      / (CAST(tf.tf AS DOUBLE)
           |         + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))
           |      * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_micros
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats
           |  GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 50),
           |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs
           |  FROM documents WHERE doc_id IS NOT NULL),
           |ti AS (
           |  SELECT doc_id, CAST(sum(CAST(round_even(
           |      CAST(tf.tf AS DOUBLE) * ln(nd.n_docs / df.df)
           |        * ln(nd.n_docs / df.df) * 1000000.0, 0) AS BIGINT))
           |    AS BIGINT) AS score_micros
           |  FROM tf JOIN df USING (term), nd
           |  GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 50),
           |ra AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rank_bm25
           |  FROM bm),
           |rb AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rank_tfidf
           |  FROM ti)
           |SELECT doc_id, rank_bm25, rank_tfidf,
           |  coalesce(CAST(round_even(1000000.0
           |      / (60.0 + CAST(rank_bm25 AS DOUBLE)), 0) AS BIGINT), 0)
           |  + coalesce(CAST(round_even(1000000.0
           |      / (60.0 + CAST(rank_tfidf AS DOUBLE)), 0) AS BIGINT), 0)
           |    AS rrf_micros
           |FROM ra FULL JOIN rb USING (doc_id)
           |ORDER BY rrf_micros DESC, doc_id LIMIT 20""".stripMargin
      }),
    // multinomial NB training as pure aggregation; readout = per-class
    // discriminative vocabulary — see [[graft.llm.NaiveBayes]]
    QueryDef("naive_bayes_train", (s, dir) =>
      graft.llm.NaiveBayes.trainTopTerms(t(s, dir, "documents")),
      // NB sufficient statistics + Laplace-smoothed LLR, top-5 per class
      """WITH tok AS (SELECT lang AS cls,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE doc_id IS NOT NULL),
        |cc AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |nc AS (SELECT cls, CAST(sum(c) AS BIGINT) AS nc FROM cc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ntot,
        |  CAST(count(DISTINCT term) AS BIGINT) AS v FROM cc),
        |tc AS (SELECT term, CAST(sum(c) AS BIGINT) AS tc FROM cc GROUP BY 1),
        |llr AS (SELECT cc.cls, cc.term, cc.c,
        |    CAST(round_even((ln(CAST(cc.c + 1 AS DOUBLE)
        |        / CAST(nc.nc + tot.v AS DOUBLE))
        |      - ln(CAST(tc.tc - cc.c + 1 AS DOUBLE)
        |        / CAST(tot.ntot - nc.nc + tot.v AS DOUBLE)))
        |      * 1000000.0, 0) AS BIGINT) AS llr_micros
        |  FROM cc JOIN nc USING (cls) JOIN tc USING (term), tot),
        |r AS (SELECT cls, term, c, llr_micros, row_number() OVER (
        |    PARTITION BY cls ORDER BY llr_micros DESC, term) AS rn
        |  FROM llr)
        |SELECT cls, term, c, llr_micros FROM r WHERE rn <= 5
        |ORDER BY cls, llr_micros DESC, term""".stripMargin),
    // the self-trained model applied back: argmax confusion matrix
    QueryDef("naive_bayes_score", (s, dir) =>
      graft.llm.NaiveBayes.confusion(t(s, dir, "documents")),
      // score every doc under the model (seen pairs from cc, per-class
      // smoothed-zero fallback), argmax with lexicographic tiebreak,
      // aggregate to the confusion matrix
      """WITH tok AS (SELECT lang AS cls,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE doc_id IS NOT NULL),
        |cc AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |nc AS (SELECT cls, CAST(sum(c) AS BIGINT) AS nc FROM cc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ntot,
        |  CAST(count(DISTINCT term) AS BIGINT) AS v FROM cc),
        |pri AS (SELECT lang AS cls, CAST(round_even(
        |    ln(CAST(count(*) AS DOUBLE) / CAST((SELECT count(*)
        |      FROM documents WHERE doc_id IS NOT NULL) AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT) AS prior_micros
        |  FROM documents WHERE doc_id IS NOT NULL GROUP BY 1),
        |lp AS (SELECT cc.cls, cc.term, CAST(round_even(
        |    ln(CAST(cc.c + 1 AS DOUBLE) / CAST(nc.nc + tot.v AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT) AS lp_micros
        |  FROM cc JOIN nc USING (cls), tot),
        |lp0 AS (SELECT cls, CAST(round_even(
        |    ln(1.0 / CAST(nc.nc + tot.v AS DOUBLE)) * 1000000.0, 0)
        |    AS BIGINT) AS lp0_micros
        |  FROM nc, tot),
        |dt AS (SELECT doc_id, lang AS truth, term,
        |    CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, lang,
        |      unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |    FROM documents WHERE doc_id IS NOT NULL)
        |  GROUP BY 1, 2, 3),
        |scored AS (SELECT dt.doc_id, dt.truth, lp0.cls,
        |    CAST(sum(dt.tf * coalesce(lp.lp_micros, lp0.lp0_micros))
        |      AS BIGINT) + any_value(pri.prior_micros) AS score_micros
        |  FROM dt CROSS JOIN lp0
        |  LEFT JOIN lp ON lp.cls = lp0.cls AND lp.term = dt.term
        |  JOIN pri ON pri.cls = lp0.cls
        |  GROUP BY 1, 2, 3),
        |am AS (SELECT doc_id, truth, cls, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micros DESC, cls) AS rn
        |  FROM scored)
        |SELECT truth, cls AS pred, CAST(count(*) AS BIGINT) AS docs
        |FROM am WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY truth, pred""".stripMargin),
    QueryDef("pmi_bigrams", (s, dir) =>
      Ranking.pmiBigrams(t(s, dir, "documents"), minCount = 5, k = 20),
      """WITH t AS (SELECT regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(tk) AS w FROM t) GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uc),
        |bc AS (SELECT gram, CAST(count(*) AS BIGINT) AS pc FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS gram
        |    FROM t WHERE len(tk) >= 2) GROUP BY 1),
        |nb AS (SELECT CAST(sum(pc) AS DOUBLE) AS nb FROM bc),
        |sp AS (SELECT gram, pc, split_part(gram, ' ', 1) AS w1,
        |    split_part(gram, ' ', 2) AS w2
        |  FROM bc WHERE pc >= 5)
        |SELECT gram, pc AS pair_cnt,
        |  round_even(ln((CAST(pc AS DOUBLE) / nb.nb)
        |    / ((CAST(u1.c AS DOUBLE) / nu.nu) * (CAST(u2.c AS DOUBLE) / nu.nu))),
        |    6) AS pmi
        |FROM sp JOIN uc u1 ON sp.w1 = u1.w JOIN uc u2 ON sp.w2 = u2.w, nu, nb
        |ORDER BY pmi DESC, gram LIMIT 20""".stripMargin),
    QueryDef("entropy_score", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents")),
      """WITH cc AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S')) AS c
        |  FROM documents),
        |pc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cc GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |  count(*) AS n_distinct FROM pc GROUP BY 1)
        |SELECT pc.doc_id,
        |  max(n.n) AS n_chars_nonws,
        |  max(n.n_distinct) AS distinct_chars,
        |  CAST(sum(CAST(round_even(-(CAST(cnt AS DOUBLE) / n.n)
        |    * ln(CAST(cnt AS DOUBLE) / n.n) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS entropy_micronats
        |FROM pc JOIN n USING (doc_id)
        |GROUP BY pc.doc_id ORDER BY pc.doc_id""".stripMargin),
    QueryDef("substring_dedup", (s, dir) =>
      Dedup.substringPairs(t(s, dir, "documents"), k = 40, stride = 10),
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(
        |      range(0, CAST(floor((length(text) - 40) / 10.0) AS BIGINT) + 1),
        |      i -> md5(substr(text, CAST(1 + i * 10 AS INT), 40)))) AS gh
        |  FROM documents WHERE length(text) >= 40)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin),
    // MOSS winnowing (see [[Dedup.winnowPairs]]) — guaranteed-recall
    // fingerprint selection where substring_dedup's stride sampling is
    // alignment-dependent
    QueryDef("winnow_fingerprint", (s, dir) =>
      // fanout: the per-position hash explode is the dominant stage
      // (the repetition_filter/decontaminate_ngram precedent)
      Dedup.winnowPairs(GraftSession.fanout(t(s, dir, "documents"))),
      // same normalize → per-position 60-bit k-gram hash → 4-row window
      // min → distinct → ≤32-df guard → pair counts; range() is the
      // lateral position generator (upper exclusive: p ∈ 1..len−7)
      """WITH nm AS (SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
        |  FROM documents),
        |ph AS (SELECT doc_id, CAST(pp AS INT) AS p,
        |    CAST('0x' || substr(md5(substr(t, CAST(pp AS INT), 8)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM (SELECT doc_id, t,
        |      unnest(range(1, length(t) - 6)) AS pp
        |    FROM nm WHERE length(t) >= 11)),
        |wn AS (SELECT doc_id, p,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM ph),
        |sel AS (SELECT DISTINCT doc_id, fp FROM wn WHERE p >= 4),
        |g AS (SELECT * FROM sel
        |  QUALIFY count(*) OVER (PARTITION BY fp) <= 32)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared
        |FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("bpe_merge_step", (s, dir) =>
      TextAnalysis.bpeMergeStep(t(s, dir, "documents"), k = 20),
      """WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |    FROM documents) GROUP BY 1)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, length(word)),
        |      i -> substr(word, CAST(i AS INT), 2))) AS pair, wc
        |    FROM w WHERE length(word) >= 2)
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),
    QueryDef("mixture_weights", (s, dir) =>
      Dedup.mixtureWeights(t(s, dir, "documents"), "source"),
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM s),
        |a AS (SELECT source, n,
        |  CAST(round_even(sqrt(CAST(n AS DOUBLE) / tot.nt) * 1000000000.0, 0)
        |    AS BIGINT) AS a_nano
        |  FROM s, tot),
        |z AS (SELECT CAST(sum(a_nano) AS BIGINT) AS z FROM a)
        |SELECT source, n, a_nano,
        |  round_even(CAST(a_nano AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS weight
        |FROM a, z ORDER BY source""".stripMargin),
    // persisted inverted index: write posting lists partitioned by the
    // portable term bucket, probe the query terms through partition
    // pruning — the retrieval-index layout under the hard value oracle
    // (the oracle rebuilds df + sorted postings straight from documents)
    QueryDef("inverted_probe", (s, dir) => {
      val idx = Scratch.dir(dir, "inv_index")
      TextAnalysis.invertedIndexWrite(t(s, dir, "documents"), idx)
      TextAnalysis.invertedIndexProbe(s, idx, bm25Terms)
    },
      {
        val terms = bm25Terms.map(q => s"'$q'").mkString(", ")
        s"""WITH t AS (SELECT DISTINCT doc_id, term FROM (
           |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
           |    FROM documents))
           |SELECT term, CAST(count(*) AS BIGINT) AS df,
           |  CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 16 AS bucket,
           |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           |    AS postings_csv
           |FROM t WHERE term IN ($terms)
           |GROUP BY term ORDER BY term""".stripMargin
      }),
    // int8-code shortlist + exact re-rank; deterministic end to end, so
    // unlike the seeded ANN paths it carries a FULL value oracle (the
    // DuckDB twin rebuilds codes, integer dots, shortlist, and re-rank)
    QueryDef("ann_sq8", (s, dir) =>
      Similarity.sq8TopK(t(s, dir, "embeddings"), k = 10, shortlist = 100),
      // codes via the embed_quantize fold (sequential list_reduce norm),
      // INTEGER dot shortlist (exact in both engines), float re-rank with
      // the cosineTopKOracle spelling
      """WITH n AS (
        |  SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, embedding),
        |      (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm
        |  FROM embeddings),
        |c AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / n.norm * 127.0 + 0.5)
        |        AS BIGINT)) AS q
        |  FROM embeddings e JOIN n USING (vec_id) WHERE n.norm > 0),
        |qq AS (SELECT q FROM c WHERE vec_id = 0),
        |idots AS (
        |  SELECT c.vec_id, CAST(sum(c.q[i] * qq.q[i]) AS BIGINT) AS idot
        |  FROM c, qq, range(1, 65) t(i)
        |  WHERE c.vec_id <> 0 GROUP BY c.vec_id),
        |short AS (SELECT vec_id, idot FROM idots
        |  ORDER BY idot DESC, vec_id LIMIT 100),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT s.vec_id, s.idot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na2,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb2
        |  FROM short s JOIN embeddings e USING (vec_id), qv q, range(1, 65) t(i)
        |  GROUP BY s.vec_id, s.idot)
        |SELECT vec_id, idot, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
        |FROM rer ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    // 8-way rendezvous assignment, plus the property that makes HRW
    // worth having: per shard, how many ids a 9th shard would steal
    // (~1/9 overall; everything else stays put)
    QueryDef("rendezvous_shard", (s, dir) => {
      val d = t(s, dir, "documents")
      val a8 = Dedup.rendezvousShard(d, "doc_id", 8)
      val a9 = Dedup.rendezvousShard(d, "doc_id", 9, shardCol = "shard9")
      a8.join(a9, "doc_id")
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("shard") =!= col("shard9"), 1L).otherwise(0L))
            .as("moved"))
        .orderBy("shard")
    },
      """WITH cand AS (
        |  SELECT doc_id, CAST(s AS INT) AS s,
        |    md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents, range(0, 9) t(s)),
        |a8 AS (SELECT doc_id, s AS shard FROM cand WHERE s < 8
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) = 1),
        |a9 AS (SELECT doc_id, s AS shard9 FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) = 1)
        |SELECT shard, count(*) AS docs,
        |  CAST(sum(CASE WHEN a8.shard <> a9.shard9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS moved
        |FROM a8 JOIN a9 USING (doc_id) GROUP BY shard ORDER BY shard""".stripMargin),
    // one PageRank iteration (d = 0.85) over the part↔supplier
    // bipartite graph, from a uniform start. Per-edge contributions are
    // quantized to integer micro-units before the in-neighbor sum, so
    // the iteration is order-independent — the honest relational core
    // of an iterative link-analysis job (dedup_cluster already covers
    // the loop-to-fixpoint machinery; this covers the degree-normalized
    // weighted propagation step). Scale shape: distinct edges (one
    // hash-agg), out-degree aggregate, one equi-join, one sum — all
    // keyed shuffles, no driver-side state.
    QueryDef("pagerank_iter", (s, dir) => {
      // Bipartite structure exploited for the plan: the symmetrized
      // edge list never materializes (string node ids would double the
      // shuffle payload vs integer keys); each direction is one
      // integer-keyed degree aggregate + join + in-neighbor sum, and
      // since symmetrization gives every node an in-edge, no
      // dangling-node left join is needed. Node labels appear only in
      // the final projection. Same quantized arithmetic as the oracle.
      // localCheckpoint materializes the distinct edge set ONCE — four
      // consumers (two degree aggregates, two joins) otherwise re-run
      // the full-table distinct each (measured at 10× sf0.1: 11 s →
      // <2 s). Any multi-pass graph algorithm materializes its edge
      // list; same precedent as dupClusters' iteration state.
      val e0 = Graphs.supplierPart(t(s, dir, "lineitem")).localCheckpoint()
      def pr(sc: org.apache.spark.sql.Column) =
        (lit(150000L) + bround(lit(0.85) * sc.cast("double")).cast("long"))
          .as("pr_micros")
      val degS = e0.groupBy("src").agg(count(lit(1)).as("deg"))
      val degP = e0.groupBy("dst").agg(count(lit(1)).as("deg"))
      val intoP = e0.join(degS, "src")
        .select(col("dst"), bround(lit(1000000.0) / col("deg")).cast("long").as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
        .select(Graphs.label(col("dst")).as("node"), pr(col("sc")))
      val intoS = e0.join(degP, "dst")
        .select(col("src"), bround(lit(1000000.0) / col("deg")).cast("long").as("c"))
        .groupBy("src").agg(sum("c").as("sc"))
        .select(Graphs.label(col("src")).as("node"), pr(col("sc")))
      intoP.unionByName(intoS)
        .orderBy(col("pr_micros").desc, col("node"))
        .limit(20)
    },
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem),
        |edges AS (
        |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
        |         'p' || CAST(pk AS VARCHAR) AS dst FROM e0
        |  UNION ALL
        |  SELECT 'p' || CAST(pk AS VARCHAR), 's' || CAST(sk AS VARCHAR) FROM e0),
        |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY 1),
        |contrib AS (SELECT dst, CAST(sum(c) AS BIGINT) AS sc FROM (
        |    SELECT e.dst,
        |      CAST(round_even(1000000.0 / o.deg, 0) AS BIGINT) AS c
        |    FROM edges e JOIN outd o USING (src))
        |  GROUP BY dst),
        |nodes AS (SELECT DISTINCT src AS node FROM edges)
        |SELECT node,
        |  CAST(150000 + CAST(round_even(0.85 * coalesce(sc, 0), 0) AS BIGINT)
        |    AS BIGINT) AS pr_micros
        |FROM nodes LEFT JOIN contrib ON node = contrib.dst
        |ORDER BY pr_micros DESC, node LIMIT 20""".stripMargin),
    // Personalized PageRank (α = 0.15 restart pinned on supplier 1) —
    // the seeded-relevance member of the link-analysis family:
    // pagerank_iter propagates from a UNIFORM start (global
    // importance), this propagates from a restart vector (relevance TO
    // the seed), and the state stays FRONTIER-SPARSE: round 1 touches
    // only N(seed), round 2 only the 2-hop ball — at 100 TB a seeded
    // query never materializes corpus-wide rank state. Two unrolled
    // rounds on the supplier↔part bipartite graph, per-edge
    // contributions round_even-quantized to micros (order-independent
    // sums, the pagerank_iter discipline); suppliers and parts keep
    // integer keys separately, labels appear only in the readout.
    QueryDef("ppr_seeded", (s, dir) => {
      import s.implicits._
      val e0 = Graphs.supplierPart(t(s, dir, "lineitem"))
        .localCheckpoint() // degree aggregates + three propagation joins
      val seed = Graphs.supplier(lit(1L))
      val degS = e0.groupBy("src").agg(count(lit(1)).as("degs"))
      val degP = e0.groupBy("dst").agg(count(lit(1)).as("degp"))
      // round 1: mass leaves the seed; restart keeps 150000 on it
      val p1p = e0.join(degS, "src").filter(col("src") === seed)
        .select(col("dst"),
          bround(lit(850000.0) / col("degs")).cast("long").as("m"))
      // round 2, part side: the seed's retained 150000 fans out again
      val p2p = e0.join(degS, "src").filter(col("src") === seed)
        .select(col("dst"),
          bround(lit(150000L) * lit(0.85) / col("degs")).cast("long")
            .as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      // round 2, supplier side: round-1 part mass + the seed restart
      val p2s = e0.join(p1p, "dst").join(degP, "dst")
        .select(col("src"),
          bround(col("m") * lit(0.85) / col("degp")).cast("long").as("c"))
        .unionByName(Seq(150000L).toDF("c").select(seed.as("src"), col("c")))
        .groupBy("src").agg(sum("c").as("m"))
      p2s.select(Graphs.label(col("src")).as("node"),
          col("m").as("ppr_micros"))
        .unionByName(p2p.select(Graphs.label(col("dst")).as("node"),
          col("m").as("ppr_micros")))
        .orderBy(col("ppr_micros").desc, col("node"))
        .limit(20)
    },
      // same two quantized frontier rounds; the seed restart joins the
      // supplier aggregate as a UNION ALL row (present even when no
      // part mass reaches back)
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem),
        |degs AS (SELECT sk, count(*) AS degs FROM e0 GROUP BY 1),
        |degp AS (SELECT pk, count(*) AS degp FROM e0 GROUP BY 1),
        |p1p AS (SELECT pk,
        |    CAST(round_even(850000.0 / degs, 0) AS BIGINT) AS m
        |  FROM e0 JOIN degs USING (sk) WHERE sk = 1),
        |p2p AS (SELECT pk, CAST(sum(c) AS BIGINT) AS m FROM (
        |    SELECT pk,
        |      CAST(round_even(150000 * 0.85 / degs, 0) AS BIGINT) AS c
        |    FROM e0 JOIN degs USING (sk) WHERE sk = 1) GROUP BY pk),
        |p2s AS (SELECT sk, CAST(sum(c) AS BIGINT) AS m FROM (
        |    SELECT e0.sk,
        |      CAST(round_even(p1p.m * 0.85 / degp, 0) AS BIGINT) AS c
        |    FROM e0 JOIN p1p USING (pk) JOIN degp USING (pk)
        |    UNION ALL SELECT 1, 150000) GROUP BY sk)
        |SELECT node, ppr_micros FROM (
        |  SELECT 's' || CAST(sk AS VARCHAR) AS node, m AS ppr_micros
        |  FROM p2s
        |  UNION ALL
        |  SELECT 'p' || CAST(pk AS VARCHAR), m FROM p2p)
        |ORDER BY ppr_micros DESC, node LIMIT 20""".stripMargin),
    // HITS mutual reinforcement on the directed supplier→part graph
    // (hubs = suppliers, authorities = parts) — the OTHER classic
    // link-analysis operator next to PageRank, and a different
    // propagation: unnormalized two-hop sums instead of
    // degree-normalized one-hop. From h₀ ≡ 1: a₁(p) = indeg(p),
    // h₁(s) = Σ_{p∈N(s)} a₁(p), a₂(p) = Σ_{s∈N(p)} h₁(s) — all
    // integer-exact (no normalization drift), so the oracle is a hard
    // value MATCH. Readout: top-20 hubs by h₁ ∪ top-20 authorities by
    // a₂. Scale shape: one distinct + localCheckpoint (three
    // consumers), then keyed aggregate→join→aggregate chains — the
    // same shuffle budget as one sparse-matrix-squared multiply.
    QueryDef("hits_scores", (s, dir) => {
      val e0 = Graphs.supplierPart(t(s, dir, "lineitem")).localCheckpoint()
      val a1 = e0.groupBy("dst").agg(count(lit(1)).as("a1"))
      val h1 = e0.join(a1, "dst")
        .groupBy("src").agg(sum("a1").as("h1"))
      val a2 = e0.join(h1, "src")
        .groupBy("dst").agg(sum("h1").as("a2"))
      val hubs = h1
        .select(lit("hub").as("kind"), Graphs.label(col("src")).as("node"),
          col("h1").as("score"))
        .orderBy(col("score").desc, col("node")).limit(20)
      val auths = a2
        .select(lit("auth").as("kind"), Graphs.label(col("dst")).as("node"),
          col("a2").as("score"))
        .orderBy(col("score").desc, col("node")).limit(20)
      auths.unionByName(hubs)
        .orderBy(col("kind"), col("score").desc, col("node"))
    },
      // same integer propagation; top-k per side via two LIMITed CTEs
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem),
        |a1 AS (SELECT pk, CAST(count(*) AS BIGINT) AS a1
        |  FROM e0 GROUP BY 1),
        |h1 AS (SELECT sk, CAST(sum(a1) AS BIGINT) AS h1
        |  FROM e0 JOIN a1 USING (pk) GROUP BY 1),
        |a2 AS (SELECT pk, CAST(sum(h1) AS BIGINT) AS a2
        |  FROM e0 JOIN h1 USING (sk) GROUP BY 1),
        |hubs AS (SELECT 'hub' AS kind, 's' || CAST(sk AS VARCHAR) AS node,
        |    h1 AS score
        |  FROM h1 ORDER BY score DESC, node LIMIT 20),
        |auths AS (SELECT 'auth' AS kind, 'p' || CAST(pk AS VARCHAR) AS node,
        |    a2 AS score
        |  FROM a2 ORDER BY score DESC, node LIMIT 20)
        |SELECT * FROM (SELECT * FROM auths UNION ALL SELECT * FROM hubs)
        |ORDER BY kind, score DESC, node""".stripMargin),
    // rolling 7-day distinct-user reach per day. COUNT DISTINCT has no
    // window form in either engine; the scalable relational spelling is
    // a bounded 7-way explode of the distinct (user, day) pairs — the
    // shuffled data is distinct pairs × window, never raw events. Days
    // are integer offsets (the [[Analytics]] convention: no date-dtype
    // drift in the driver compare), and the days-present restriction is
    // a USING-column semi-join (self-lineage-safe, unlike a raw
    // Column === Column condition between two frames sharing a parent).
    QueryDef("rolling_distinct", (s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
        .distinct()
      val counts = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("o"), col("d"))
        .select(col("user_id"), (col("d") + col("o")).as("od"))
        .distinct()
        .groupBy("od")
        .agg(count_distinct(col("user_id")).as("active_7d"))
      counts
        .join(ud.select(col("d").as("od")).distinct(), Seq("od"), "left_semi")
        .select(col("od").as("d"), col("active_7d"))
        .orderBy("d")
    },
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |obs AS (SELECT DISTINCT user_id, d + o AS od FROM ud, range(0, 7) t(o)),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT days.d, CAST(count(DISTINCT obs.user_id) AS BIGINT) AS active_7d
        |FROM days JOIN obs ON days.d = obs.od
        |GROUP BY days.d ORDER BY days.d""".stripMargin),
    // robust per-group outlier detection: median + MAD (median absolute
    // deviation), the estimator that survives the contamination that
    // wrecks mean/stddev (outlier_zscore's moments move WITH the
    // outliers; the 50% breakdown point here does not) — what
    // percentile-threshold quality filtering actually wants. Exact
    // grouped percentile both times; deviations of integer inputs
    // against a .5-quantized median are FP-exact, so the 3·1.4826·MAD
    // cut compares identical doubles in both engines.
    QueryDef("mad_outliers", (s, dir) => {
      val d = t(s, dir, "documents").select("lang", "n_chars")
      val med = d.groupBy("lang")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val mad = d.join(broadcast(med), "lang")
        .groupBy("lang")
        .agg(max("med").as("med"),
          expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      d.join(broadcast(mad), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          max("med").as("med"), max("mad").as("mad"),
          sum(when(abs(col("n_chars") - col("med"))
            > lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("outliers"))
        .orderBy("lang")
    },
      """WITH med AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang),
        |mad AS (
        |  SELECT d.lang, max(med.med) AS med,
        |    quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad
        |  FROM documents d JOIN med USING (lang) GROUP BY d.lang)
        |SELECT d.lang, count(*) AS n, max(mad.med) AS med,
        |  max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN abs(d.n_chars - mad.med)
        |    > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS outliers
        |FROM documents d JOIN mad USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    // equi-depth deciles of order value: an EXACT global ntile, now
    // via [[graft.ops.DistributedRank]] (bucketed row_number +
    // closed-form tile — the former Window.orderBy single-partition
    // sort over every order is gone; at 100 TB the APPROXIMATE path
    // is approx_percentile boundaries + a broadcast bin join, which
    // histogram_bins/quantile_gate already cover — this is the exact
    // form at the same scale posture); sums stay DECIMAL.
    QueryDef("bucketize_depth", (s, dir) => {
      import graft.ops.DistributedRank.{ntileOf, withRowNumber}
      val o = t(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderkey"))
        .localCheckpoint() // feeds the rank pass and the count
      withRowNumber(o, col("o_totalprice"), col("o_orderkey"),
          "rn", width = 65536)
        .crossJoin(broadcast(o.agg(count(lit(1)).as("nn"))))
        .select(col("o_totalprice"),
          ntileOf(col("rn"), col("nn"), 10).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          min("o_totalprice").as("lo"),
          max("o_totalprice").as("hi"),
          // exact decimal accumulation, final scalar cast back to
          // double (the repo-wide rule): DuckDB's pandas bridge turns
          // DECIMAL into float64 anyway, so a decimal OUTPUT column
          // hash-mismatches even when values agree
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double").as("total"))
        .orderBy("bucket")
    },
      """WITH b AS (SELECT o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders)
        |SELECT bucket, count(*) AS cnt,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Stratified sampling with Neyman (variance-optimal) allocation:
    // sample size per stratum ∝ N_h·σ_h, the allocation that minimizes
    // estimator variance for a fixed budget [Neyman, JRSS 1934]. The
    // whole derivation is ONE aggregate over the fact table (N_h·σ_h =
    // √(n·Sxx − Sx²) over exact integer cent moments — one sqrt + one
    // floor, then integer arithmetic only), a 3-row broadcast of the
    // per-stratum keep thresholds back onto the facts, and a
    // deterministic md5-bucket keep rule (never rand()) — so the same
    // sample falls out on any cluster layout at any scale. Keep
    // thresholds are parts-per-million of the stratum.
    QueryDef("stratified_sample", (s, dir) => {
      val D38 = DecimalType(38, 0)
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("stratum"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("rk"),
        bround(col("l_extendedprice") * 100).cast("long").as("p"))
      val st = li.groupBy("stratum").agg(
        count(lit(1)).as("n_rows"),
        sum(col("p").cast(D38)).cast(D38).as("sx"),
        sum(col("p").cast(D38) * col("p")).cast(D38).as("sxx"))
      val stats = st.select(col("stratum"), col("n_rows"),
        floor(sqrt((col("n_rows").cast(D38) * col("sxx") -
          col("sx") * col("sx")).cast("double"))).cast("long").as("w"))
      val tot = stats.agg(sum("w").as("tot_w"))
      // materialize the 3-row allocation table once: it feeds BOTH the
      // keep filter and the final report, and without the checkpoint
      // each consumer re-runs the whole stats scan (plan audit showed
      // 5 lineitem scans; now 2 — stats once, keep filter once)
      val alloc = stats.crossJoin(broadcast(tot))
        .withColumn("alloc", expr("5000L * w div tot_w"))
        .withColumn("thr", expr("alloc * 1000000L div n_rows"))
        .localCheckpoint()
      val kept = li
        .join(broadcast(alloc.select("stratum", "thr")), "stratum")
        .filter(Dedup.hashBucket(concat(lit("strat:"), col("rk")),
          1000000L) < col("thr"))
        .groupBy("stratum").agg(count(lit(1)).as("kept"))
      // left join: a zero-variance stratum gets alloc = 0 and keeps
      // nothing, but must still report its row
      alloc.join(kept, Seq("stratum"), "left")
        .select(col("stratum"), col("n_rows"), col("w"), col("alloc"),
          col("thr"), coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("stratum")
    },
      // Neyman weights replayed on HUGEINT moments: w = ⌊√(n·Sxx − Sx²)⌋
      // (both engines run the identical IEEE sqrt on the identical cast
      // double), then integer-only allocation/threshold arithmetic and
      // the shared 28-bit-md5 keep rule
      """WITH x AS (SELECT l_returnflag AS stratum,
        |    CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR) AS rk,
        |    CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) AS p
        |  FROM lineitem),
        |st AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS sxx
        |  FROM x GROUP BY 1),
        |ws AS (SELECT stratum, n_rows,
        |    CAST(floor(sqrt(CAST(CAST(n_rows AS HUGEINT) * sxx - sx * sx
        |      AS DOUBLE))) AS BIGINT) AS w
        |  FROM st),
        |a AS (SELECT stratum, n_rows, w,
        |    CAST((5000 * CAST(w AS HUGEINT)) //
        |      (SELECT CAST(sum(w) AS HUGEINT) FROM ws) AS BIGINT) AS alloc
        |  FROM ws),
        |thr AS (SELECT stratum, n_rows, w, alloc,
        |    alloc * 1000000 // n_rows AS thr FROM a),
        |kept AS (SELECT x.stratum, CAST(count(*) AS BIGINT) AS kept
        |  FROM x JOIN thr USING (stratum)
        |  WHERE CAST('0x' || substr(md5('strat:' || rk), 1, 7) AS BIGINT)
        |        % 1000000 < thr
        |  GROUP BY 1)
        |SELECT stratum, n_rows, w, alloc, thr,
        |  coalesce(kept, 0) AS kept
        |FROM thr LEFT JOIN kept USING (stratum) ORDER BY stratum""".stripMargin),

    // Per-language n-gram NOVELTY: what fraction of a corpus slice's
    // distinct 3-gram shingles appears there FIRST (attribution by min
    // doc_id)? The dedup-adjacent curation metric — a slice whose
    // shingles all occurred earlier adds nothing to training. Shapes:
    // explode→distinct (hash-partition on the gram), one groupBy for
    // first-occurrence, one re-join on the gram (shuffle reuse), then
    // two cheap aggregates — every stage keyed and linear at 100 TB.
    QueryDef("ngram_novelty", (s, dir) => {
      // first-occurrence as a WINDOW min over the gram partition, not a
      // groupBy + re-join: one pass over the exploded shingles, one
      // shuffle on the gram — no second corpus parse, no join build
      // (measured: the agg+join spelling re-ran the tokenize+explode
      // map side once per consumer)
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(Dedup.shingles(col("text"))).as("g"))
        .distinct()
      val perDoc = sh
        .withColumn("first_doc",
          min("doc_id").over(Window.partitionBy("g")))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("novel_grams"))
      perDoc.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_grams").as("total_grams"),
        sum("novel_grams").as("novel_grams"),
        bround(sum("novel_grams").cast("double") / sum("n_grams"), 6)
          .as("novelty_rate"))
        .orderBy("lang")
    },
      // same 3-gram construction as the minhash oracles (raw \S+ tokens,
      // space-joined windows, list_distinct ≙ the Spark-side distinct)
      """WITH toks AS (SELECT doc_id, lang,
        |    regexp_extract_all(text, '\S+') AS t FROM documents),
        |gsets AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, lang, unnest(grams) AS g FROM gsets),
        |first AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |pd AS (SELECT s.doc_id, s.lang, count(*) AS n_grams,
        |    sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
        |      AS novel
        |  FROM sh s JOIN first f USING (g) GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
        |  CAST(sum(novel) AS BIGINT) AS novel_grams,
        |  round_even(CAST(sum(novel) AS DOUBLE) /
        |    CAST(sum(n_grams) AS DOUBLE), 6) AS novelty_rate
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin),

    // Iterated BPE training — [[bpe_merge_step]] ran ONE naive pair
    // census; this trains an actual 3-merge tokenizer on symbol
    // sequences: words become space-separated symbol strings
    // ("h e l l o"), each round counts adjacent symbol pairs weighted
    // by word frequency (one shuffle on the pair), picks the top pair
    // (count desc, pair asc — the deterministic BPE tie rule), and
    // merges it corpus-wide via a DELIMITED greedy left-to-right
    // replace (double-space boundaries, so the pattern can never match
    // across symbol boundaries — exact BPE token semantics) — so round
    // 2 can merge a symbol round 1 created (the property the
    // single-step query cannot show). Word state localCheckpoints per
    // round (the kcore lesson: iteration r+1 reads materialized state,
    // not a replay of rounds 0..r); the chosen pair stays IN-PLAN as a
    // 1-row broadcast — no driver collect. Output: the 3 merge rules.
    QueryDef("bpe_train_rounds", (s, dir) => {
      val w0 = GraftSession.fanout(t(s, dir, "documents"))
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wc"))
        .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("w"),
          col("wc"))
        .localCheckpoint()
      def pairs(words: DataFrame) = words
        .select(col("wc"), split(col("w"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pr"))
        .groupBy("pr").agg(sum("wc").as("cnt"))
      var words = w0
      val rounds = (1 to 3).map { r =>
        val top = pairs(words)
          .orderBy(col("cnt").desc, col("pr").asc).limit(1)
          .localCheckpoint()
        // token-boundary-exact merge: a plain replace(w, pr, ...) can
        // match ACROSS symbol boundaries once multi-char symbols exist
        // (pair "l l" inside "x ll l y" would corrupt the "ll" symbol).
        // Doubling the inter-symbol spaces gives every boundary two
        // delimiter chars, so each single-space-padded pattern match
        // consumes one half of each flanking boundary and adjacent
        // occurrences still match (" l  l  l  l " → "ll ll", the greedy
        // left-to-right non-overlapping scan true BPE specifies); the
        // trailing normalize collapses the mixed spacing back.
        words = words.crossJoin(broadcast(top.select("pr")))
          .select(expr(
            "regexp_replace(trim(replace(" +
              "concat(' ', replace(w, ' ', '  '), ' '), " +
              "concat(' ', replace(pr, ' ', '  '), ' '), " +
              "concat(' ', replace(pr, ' ', ''), ' '))), ' +', ' ')")
            .as("w"), col("wc"))
          .localCheckpoint()
        top.select(lit(r).as("round"), col("pr").as("merged_pair"),
          col("cnt"))
      }
      rounds.reduce(_ unionByName _).orderBy("round")
    },
      // the 3 rounds unrolled; AS MATERIALIZED pins each word state the
      // way localCheckpoint does (and keeps DuckDB from re-inlining the
      // whole chain per consumer)
      """WITH w0 AS MATERIALIZED (
        |  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w,
        |    CAST(count(*) AS BIGINT) AS wc
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
        |        AS word FROM documents) GROUP BY 1),
        |p1 AS (SELECT pr, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(sy)),
        |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
        |    FROM (SELECT string_split(w, ' ') AS sy, wc FROM w0))
        |  GROUP BY 1),
        |t1 AS MATERIALIZED (SELECT pr, cnt FROM p1
        |  ORDER BY cnt DESC, pr LIMIT 1),
        |w1 AS MATERIALIZED (SELECT
        |    regexp_replace(trim(replace(
        |      ' ' || replace(w, ' ', '  ') || ' ',
        |      ' ' || replace(t1.pr, ' ', '  ') || ' ',
        |      ' ' || replace(t1.pr, ' ', '') || ' ')), ' +', ' ', 'g')
        |      AS w, wc
        |  FROM w0 CROSS JOIN t1),
        |p2 AS (SELECT pr, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(sy)),
        |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
        |    FROM (SELECT string_split(w, ' ') AS sy, wc FROM w1))
        |  GROUP BY 1),
        |t2 AS MATERIALIZED (SELECT pr, cnt FROM p2
        |  ORDER BY cnt DESC, pr LIMIT 1),
        |w2 AS MATERIALIZED (SELECT
        |    regexp_replace(trim(replace(
        |      ' ' || replace(w, ' ', '  ') || ' ',
        |      ' ' || replace(t2.pr, ' ', '  ') || ' ',
        |      ' ' || replace(t2.pr, ' ', '') || ' ')), ' +', ' ', 'g')
        |      AS w, wc
        |  FROM w1 CROSS JOIN t2),
        |p3 AS (SELECT pr, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(sy)),
        |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
        |    FROM (SELECT string_split(w, ' ') AS sy, wc FROM w2))
        |  GROUP BY 1),
        |t3 AS (SELECT pr, cnt FROM p3 ORDER BY cnt DESC, pr LIMIT 1)
        |SELECT 1 AS round, pr AS merged_pair, cnt FROM t1
        |UNION ALL SELECT 2, pr, cnt FROM t2
        |UNION ALL SELECT 3, pr, cnt FROM t3
        |ORDER BY round""".stripMargin),

    // Distribution matching — reshape the corpus toward a TARGET
    // length distribution (uniform over the 10 literal 200-char
    // buckets) by deterministic per-bucket downsampling: every bucket
    // keeps at most N/10 docs, chosen by the corpus-wide md5 keep
    // order (the [[mixture_sample]]/keep-best rule — never rand(), so
    // reruns and engines agree doc-for-doc). Underfull buckets keep
    // everything — the readout shows exactly which strata capped and
    // which ran short. One scan (checkpointed id→bucket pairs), one
    // bucket-partitioned window, a 1-row broadcast quota.
    QueryDef("distribution_match", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        least(expr("CAST(n_chars DIV 200 AS INT)"), lit(9)).as("bin"))
        .localCheckpoint()
      val quota = d.agg((count(lit(1)) / 10).cast("long").as("quota"))
      val w = Window.partitionBy("bin").orderBy(
        md5(concat(lit("dm:"), col("doc_id").cast("string"))),
        col("doc_id"))
      d.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(quota))
        .groupBy("bin").agg(
          count(lit(1)).as("before_cnt"),
          max("quota").as("target_cnt"),
          sum(when(col("rk") <= col("quota"), 1L).otherwise(0L))
            .as("kept_cnt"))
        .select(col("bin"), col("before_cnt"), col("target_cnt"),
          col("kept_cnt"),
          bround(col("kept_cnt").cast("double")
            / col("before_cnt").cast("double"), 6).as("keep_rate"))
        .orderBy("bin")
    },
      """WITH d AS (SELECT doc_id,
        |    least(CAST(n_chars // 200 AS INT), 9) AS bin
        |  FROM documents),
        |q AS (SELECT CAST(count(*) // 10 AS BIGINT) AS quota FROM d),
        |r AS (SELECT bin,
        |    row_number() OVER (PARTITION BY bin
        |      ORDER BY md5('dm:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS rk
        |  FROM d)
        |SELECT bin, CAST(count(*) AS BIGINT) AS before_cnt,
        |  CAST(max(q.quota) AS BIGINT) AS target_cnt,
        |  CAST(sum(CASE WHEN rk <= q.quota THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_cnt,
        |  CAST(round_even(CAST(sum(CASE WHEN rk <= q.quota
        |      THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS keep_rate
        |FROM r CROSS JOIN q GROUP BY bin ORDER BY bin""".stripMargin),

    // Systematic probability-proportional-to-size sampling [Madow,
    // AMS 1949] — the survey-sampling workhorse for weighted corpus
    // subsetting: put units in a deterministic md5-shuffled order,
    // accumulate integer-cent weights, and take every unit whose
    // cumulative interval crosses a stride = T/k grid point (units
    // heavier than the stride select with multiplicity — reported, not
    // hidden). Never rand(): reruns and engines agree unit-for-unit.
    // The prefix sum is the textbook TWO-LEVEL scan: 256 md5-prefix
    // buckets (a PREFIX of the global sort key, so bucket order nests
    // in item order) roll up to per-bucket offsets on a 256-row frame,
    // then each bucket cumsums locally — no row-scale single-partition
    // window at any corpus size; bucket fan-out is the scale knob.
    QueryDef("pps_systematic", (s, dir) => {
      val k = ppsSamplesPerStratum
      val u = t(s, dir, "orders").select(
        col("o_orderpriority").as("stratum"),
        col("o_orderkey").as("uk"),
        bround(col("o_totalprice") * 100).cast("long").as("w"),
        md5(concat(lit("pps:"), col("o_orderkey").cast("string")))
          .as("h"))
        .withColumn("bkt",
          expr("cast(conv(substring(h, 1, 2), 16, 10) as bigint)"))
        .localCheckpoint() // feeds bucket totals AND the local cumsum
      val offs = u.groupBy("stratum", "bkt").agg(sum("w").as("tw"))
        .withColumn("off", sum("tw").over(Window.partitionBy("stratum")
          .orderBy("bkt")) - col("tw"))
      val strideT = u.groupBy("stratum").agg(
        greatest(expr(s"sum(w) div ${k}L"), lit(1L)).as("stride"))
      val c = u
        .withColumn("lc", sum("w").over(Window
          .partitionBy("stratum", "bkt").orderBy(col("h"), col("uk"))))
        .join(broadcast(offs.select("stratum", "bkt", "off")),
          Seq("stratum", "bkt"))
        .join(broadcast(strideT), Seq("stratum"))
        .withColumn("ci", col("off") + col("lc"))
        .withColumn("m",
          expr("ci div stride - (ci - w) div stride"))
      c.groupBy("stratum").agg(
          count(lit(1)).as("n_units"),
          sum("w").as("total_w"),
          max("stride").as("stride"),
          sum("m").as("n_sampled"),
          sum(when(col("m") > 0, 1L).otherwise(0L)).as("units_hit"),
          sum(when(col("m") > 0, col("w")).otherwise(0L)).as("w_hit"))
        .orderBy("stratum")
    },
      // same two-level bucket-prefix cumsum as the Spark plan; the md5
      // hex prefix doubles as the bucket id so bucket order nests in the
      // global (h, uk) order
      s"""WITH u AS (SELECT o_orderpriority AS stratum,
        |    o_orderkey AS uk,
        |    CAST(round_even(o_totalprice * 100, 0) AS BIGINT) AS w,
        |    md5('pps:' || CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM orders),
        |ub AS (SELECT *, CAST('0x' || substr(h, 1, 2) AS BIGINT)
        |    AS bkt FROM u),
        |offs AS (SELECT stratum, bkt, CAST(sum(w) AS BIGINT) AS tw
        |  FROM ub GROUP BY 1, 2),
        |offs2 AS (SELECT stratum, bkt,
        |    CAST(sum(tw) OVER (PARTITION BY stratum ORDER BY bkt)
        |      AS BIGINT) - tw AS off FROM offs),
        |st AS (SELECT stratum,
        |    greatest(CAST(sum(w) AS BIGINT) // $ppsSamplesPerStratum, 1)
        |      AS stride
        |  FROM ub GROUP BY 1),
        |c AS (SELECT ub.stratum, ub.w,
        |    CAST(sum(ub.w) OVER (PARTITION BY ub.stratum, ub.bkt
        |      ORDER BY ub.h, ub.uk) AS BIGINT) + off AS ci,
        |    stride
        |  FROM ub
        |  JOIN offs2 ON ub.stratum = offs2.stratum
        |    AND ub.bkt = offs2.bkt
        |  JOIN st ON ub.stratum = st.stratum)
        |SELECT stratum, CAST(count(*) AS BIGINT) AS n_units,
        |  CAST(sum(w) AS BIGINT) AS total_w,
        |  max(stride) AS stride,
        |  CAST(sum(ci // stride - (ci - w) // stride) AS BIGINT)
        |    AS n_sampled,
        |  CAST(sum(CASE WHEN ci // stride - (ci - w) // stride > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS units_hit,
        |  CAST(sum(CASE WHEN ci // stride - (ci - w) // stride > 0
        |    THEN w ELSE 0 END) AS BIGINT) AS w_hit
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // Inverse-propensity-score off-policy evaluation [Horvitz–Thompson
    // 1952; Dudík et al., ICML 2011] — the counterfactual "what would a
    // UNIFORM action policy have earned?" readout that RLHF/bandit
    // data pipelines run before training on logged interactions.
    // Behavior propensities are the empirical action frequencies
    // n_a/N, so each action's IPS term collapses to an exact rational
    // (R_a/n_a)/(A·100) — reported PER ACTION (one division chain,
    // identical IEEE in both engines) precisely so no cross-row float
    // sum exists for engines to order differently; the term still
    // rounds to 6 dp like every other cross-engine float (the repo-wide
    // rule — a refactor of the division chain must not break equality).
    // Rewards quantize to integer cents up front (the repo-wide money
    // rule). One keyed aggregate + two 1-row broadcasts; linear at any
    // log size.
    QueryDef("ips_offpolicy", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type").as("action"),
        bround(col("value") * 100).cast("long").as("r"))
      val per = e.groupBy("action").agg(count(lit(1)).as("n"),
        sum("r").as("r_cents"))
      val tot = per.agg(sum("n").as("big_n"),
        count(lit(1)).cast("long").as("n_actions"))
      per.crossJoin(broadcast(tot))
        .select(col("action"), col("n"), col("r_cents"),
          bround(col("n").cast("double")
            / col("big_n").cast("double"), 6).as("propensity"),
          bround(col("r_cents").cast("double") / col("n").cast("double")
            / col("n_actions").cast("double") / lit(100.0), 6)
            .as("ips_term"))
        .orderBy("action")
    },
      // per-action IPS terms: each an exact rational through one fixed
      // division chain — no cross-row float sum on either side
      """WITH e AS (SELECT event_type AS action,
        |    CAST(round_even(value * 100, 0) AS BIGINT) AS r
        |  FROM events),
        |per AS (SELECT action, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS r_cents FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n,
        |    CAST(count(*) AS BIGINT) AS n_actions FROM per)
        |SELECT action, n, r_cents,
        |  round_even(CAST(n AS DOUBLE) / CAST(big_n AS DOUBLE), 6)
        |    AS propensity,
        |  round_even(CAST(r_cents AS DOUBLE) / CAST(n AS DOUBLE)
        |    / CAST(n_actions AS DOUBLE) / 100.0, 6) AS ips_term
        |FROM per, tot ORDER BY action""".stripMargin)
  )
}
