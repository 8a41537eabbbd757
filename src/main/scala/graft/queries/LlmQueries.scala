package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.io.{Scratch, Tables}
import graft.io.Tables.{read => t}
import graft.llm.{CorpusReport, Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver-contract registration for the LLM-data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal plumbing) over
  * the `documents` / `embeddings` tables.
  *
  * EVERY registered query carries a DuckDB oracle — including the
  * MinHash and SimHash near-dup paths, whose hash families are built on
  * md5 (engine-independent) precisely so the banding/candidate logic is
  * oracle-verifiable. The random-projection ANN paths (ann_lsh,
  * ann_ivf, ann_ivf_probe, cosine_neardup — MLlib-internal seeded
  * projections DuckDB cannot replay) register through a RECALL GATE
  * ([[Similarity]]'s `recallGated`): the emitted rows are the exact,
  * DuckDB-expressible result, but only if the seeded approximate path
  * recovered enough of it — so recall drift empties the output and the
  * driver's row compare trips. That turns "rows-only" into a hard gate.
  */
object LlmQueries {

  // fanout (adaptive multi-core spread of an unsplittable local scan —
  // see GraftSession.fanout) is applied PER QUERY, not in the loaders:
  // the extra exchange costs ~0.3-0.5 s, which only the explode/
  // hash-heavy pipelines win back (measured at sf0.1: repetition_filter
  // 2.1→1.6, cosine_neardup 4.6→3.6, decontaminate_ngram 2.0→1.2,
  // ann_pq_adc 2.8→2.3; but light scans regressed ~2x fleet-wide when
  // it was blanket-applied, 140 s → 186 s suite total)
  private def docsFan(s: SparkSession, dir: String): DataFrame =
    GraftSession.fanout(t(s, dir, "documents"))

  private def embFan(s: SparkSession, dir: String): DataFrame =
    GraftSession.fanout(t(s, dir, "embeddings"))

  /** Rates for the registered mixture query — shared with the oracle. */
  private val mixtureRates: Seq[(String, Int)] =
    (0 to 4).map(i => s"src$i" -> 250) ++ (5 to 9).map(i => s"src$i" -> 500)

  private val stopSql: Map[String, String] = TextAnalysis.stopwords.toMap

  private def stopCount(lang: String): String =
    s"len(regexp_extract_all(lower(text), '\\b(${stopSql(lang)})\\b'))"

  /** The fingerprint normalization, DuckDB spelling ('g' = replace-all,
    * which Spark's regexp_replace does by default).
    */
  private val fpSql = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

  /** Shared by `decontaminate` and `decontaminate_bloom` — one
    * definition, so the bloom path's equality claim can't silently
    * desync from the exact one.
    */
  private val decontaminateOracle: String =
    s"""SELECT a.doc_id, a.lang, a.n_chars FROM documents a
       |WHERE a.doc_id % 2 = 0 AND NOT EXISTS (
       |  SELECT 1 FROM documents b
       |  WHERE b.doc_id % 2 = 1
       |    AND ${fpSql.replace("text", "b.text")} = ${fpSql.replace("text", "a.text")})
       |ORDER BY a.doc_id""".stripMargin

  /** Shared CTE prefix reproducing [[Dedup.minhashSignatures]] +
    * the banded candidate join in DuckDB: tokens → distinct 3-gram
    * shingles → per-doc min of md5("i:" ++ shingle) hex strings →
    * band keys → equi-joined candidate pairs. Deterministic given md5,
    * so candidates match the Spark plan exactly.
    */
  private def minhashCtes(numHashes: Int, bands: Int): String = {
    val r = numHashes / bands
    // same universal-hash family as Dedup.minhashSignatures:
    // x = 28-bit md5 prefix, h_i = (a_i*x + b_i) mod (2^31-1)
    val minCols = (0 until numHashes).map { i =>
      s"min((${Dedup.minhashA(i)} * x + ${Dedup.minhashB(i)}) % ${Dedup.minhashP}) AS h$i"
    }.mkString(", ")
    val bandSelects = (0 until bands).map { j =>
      val key = (0 until r).map(q => s"CAST(h${j * r + q} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $j AS band_idx, $key AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    val sigList = (0 until numHashes).map(i => s"h$i").mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
       |gsets AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
       |  FROM toks WHERE len(t) >= 3),
       |g AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(unnest(grams)), 1, 7) AS BIGINT) AS x
       |  FROM gsets),
       |sig AS (SELECT doc_id, $minCols FROM g GROUP BY doc_id),
       |banded AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |sigarr AS (SELECT doc_id, $sigList AS sig FROM sig),
       |est AS (
       |  SELECT doc_a, doc_b,
       |    1.0 - CAST(len(list_filter(range(1, ${numHashes + 1}),
       |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS jaccard_dist
       |  FROM cand
       |  JOIN sigarr sa ON cand.doc_a = sa.doc_id
       |  JOIN sigarr sb ON cand.doc_b = sb.doc_id)""".stripMargin
  }

  private def minhashOracle(maxDistance: Double, numHashes: Int = 16,
      bands: Int = 4): String =
    s"""${minhashCtes(numHashes, bands)}
       |SELECT doc_a, doc_b, jaccard_dist FROM est
       |WHERE jaccard_dist <= $maxDistance
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of [[Dedup.simhashPairs]]: per-token 60-bit md5-prefix
    * hash, 60 bit-vote sums per doc, sign → bit, 4×15-bit bands,
    * banded self-join, exact Hamming ≤ maxHamming. Tokenless docs get
    * simhash 0 via the LEFT JOIN + coalesce, mirroring withSimhash.
    */
  private def simhashOracle(maxHamming: Int): String = {
    val bits = Dedup.simhashBits
    val bands = Dedup.simhashBands
    val bandBits = bits / bands
    val bandMask = (1L << bandBits) - 1
    val votes = (0 until bits).map(i =>
      s"sum(CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val assemble = (0 until bits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    val bandSelects = (0 until bands).map(j =>
      s"SELECT doc_id, $j AS band_idx, (simhash >> ${j * bandBits}) & $bandMask AS band_val FROM sh")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS x FROM toks),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sh0 AS (SELECT doc_id, $assemble AS simhash FROM v),
       |sh AS (SELECT d.doc_id, coalesce(sh0.simhash, 0) AS simhash
       |  FROM documents d LEFT JOIN sh0 ON d.doc_id = sh0.doc_id),
       |banded AS ($bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id)
       |SELECT * FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       |  FROM pairs p
       |  JOIN sh sa ON p.doc_a = sa.doc_id
       |  JOIN sh sb ON p.doc_b = sb.doc_id)
       |WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared CTE prefix for the sign-projection paths: per-vector sign
    * bits (the ±1 chains evaluated left-to-right, matching
    * ArrayDotProduct's ascending loop) and the banded bucket relation.
    */
  private def signLshCtes(nBits: Int, bitsPerBand: Int): String = {
    val bands = nBits / bitsPerBand
    val projs = Similarity.signProjections(nBits, dim = 64)
    val bitCols = projs.zipWithIndex.map { case (r, i) =>
      val chain = r.zipWithIndex.map { case (sign, d) =>
        val term = s"CAST(embedding[${d + 1}] AS DOUBLE)"
        if (d == 0) { if (sign > 0) term else s"(0.0 - $term)" }
        else if (sign > 0) s"+ $term" else s"- $term"
      }.mkString(" ")
      s"CASE WHEN ($chain) > 0 THEN 1 ELSE 0 END AS bit$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until bands).map { j =>
      val key = (0 until bitsPerBand)
        .map(q => s"CAST(bit${j * bitsPerBand + q} AS VARCHAR)")
        .mkString(" || ")
      s"SELECT vec_id, $j AS band_idx, $key AS band_key FROM bits"
    }.mkString(" UNION ALL ")
    s"""WITH bits AS (SELECT vec_id,
       |  $bitCols
       |FROM embeddings),
       |banded AS ($bandSelects)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.signLshParams]] + the banded bucket
    * relation: ALL projection bits up to the widest step are computed
    * once, each step's banding is a guarded branch, and a CASE over
    * count(*) — the same power-of-two thresholds as the Spark side —
    * selects exactly one branch. Query↔oracle equality therefore holds
    * at EVERY corpus size (the sf1 fixture exercises the 96/12 branch),
    * not just at the gate SFs.
    */
  private def signLshAdaptiveCtes(): String = {
    // branches AND thresholds derive from Similarity.signLshSteps — the
    // single source of truth — so a step-table edit moves query and
    // oracle together (the sf0.01 gate can't see a desync at an upper
    // branch boundary)
    val steps = Similarity.signLshSteps.map { case (_, b, r) => (b, r) }
    val maxBits = steps.map(_._1).max
    val projs = Similarity.signProjections(maxBits, dim = 64)
    val bitCols = projs.zipWithIndex.map { case (r, i) =>
      val chain = r.zipWithIndex.map { case (sign, d) =>
        val term = s"CAST(embedding[${d + 1}] AS DOUBLE)"
        if (d == 0) { if (sign > 0) term else s"(0.0 - $term)" }
        else if (sign > 0) s"+ $term" else s"- $term"
      }.mkString(" ")
      s"CASE WHEN ($chain) > 0 THEN 1 ELSE 0 END AS bit$i"
    }.mkString(",\n  ")
    val branches = steps.map { case (nBits, r) =>
      val bands = nBits / r
      val sel = (0 until bands).map { j =>
        val key = (0 until r)
          .map(q => s"CAST(bit${j * r + q} AS VARCHAR)")
          .mkString(" || ")
        s"SELECT vec_id, $j AS band_idx, $key AS band_key FROM bits " +
          s"WHERE (SELECT r FROM rsel) = $r"
      }.mkString(" UNION ALL ")
      s"($sel)"
    }.mkString(" UNION ALL ")
    val rselCase = Similarity.signLshSteps.init
      .map { case (m, _, r) => s"WHEN count(*) <= $m THEN $r" }
      .mkString("CASE ", " ", s" ELSE ${Similarity.signLshSteps.last._3} END")
    s"""WITH bits AS (SELECT vec_id,
       |  $bitCols
       |FROM embeddings),
       |rsel AS (SELECT $rselCase AS r
       |  FROM embeddings),
       |banded AS ($branches)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.signLshNearDupPairs]]: the SAME ±1
    * projection literals, evaluated as a left-to-right add/subtract
    * chain (matching ArrayDotProduct's ascending loop bit for bit,
    * since multiplying by ±1.0 is exact), then banding, the candidate
    * self-join, and exact cosine rounded to 6 decimals on both sides.
    */
  private def signLshOracle(minCosine: Double): String = {
    s"""${signLshAdaptiveCtes()},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.vec_id < b.vec_id),
       |cosd AS (
       |  SELECT c.vec_a, c.vec_b,
       |    sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
       |    sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na2,
       |    sum(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb2
       |  FROM cand c
       |  JOIN embeddings ea ON c.vec_a = ea.vec_id
       |  JOIN embeddings eb ON c.vec_b = eb.vec_id, range(1, 65) t(i)
       |  GROUP BY c.vec_a, c.vec_b)
       |SELECT * FROM (
       |  SELECT vec_a, vec_b, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cos
       |  FROM cosd)
       |WHERE cos >= $minCosine
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** DuckDB twin of [[Similarity.annSignTopK]]: probe the query
    * vector's band buckets, rank candidates by exact cosine.
    */
  private def annSignOracle(queryId: Long, k: Int, nBits: Int = 48,
      bitsPerBand: Int = 4): String =
    s"""${signLshCtes(nBits, bitsPerBand)},
       |cand AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM banded b JOIN banded q
       |    ON b.band_idx = q.band_idx AND b.band_key = q.band_key
       |  WHERE q.vec_id = $queryId AND b.vec_id <> $queryId),
       |cosd AS (
       |  SELECT c.vec_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)) AS dot,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na2,
       |    sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)) AS nb2
       |  FROM cand c
       |  JOIN embeddings e ON c.vec_id = e.vec_id
       |  JOIN embeddings qe ON qe.vec_id = $queryId, range(1, 65) t(i)
       |  GROUP BY c.vec_id)
       |SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
       |FROM cosd ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  /** Shared recursive-closure CTE prefix for the duplicate-cluster
    * oracles: the banded-minhash pairs ([[minhashCtes]], promoted to a
    * WITH RECURSIVE list — DuckDB allows non-recursive CTEs there), the
    * undirected edge list, the transitive closure (UNION dedups, so it
    * terminates), and `cl(doc_id, cluster_id)` with cluster = min
    * reachable doc_id. Min-label propagation to a fixpoint and
    * min-over-closure define the same labeling, so the iterative Spark
    * path and the one-shot SQL agree exactly. ONE definition so the
    * cluster_id semantics (and the distance threshold) cannot drift
    * between the queries built on it.
    */
  private def dupClosureCtes(maxDistance: Double, numHashes: Int,
      bands: Int): String =
    s"""${minhashCtes(numHashes, bands).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |dedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM est WHERE jaccard_dist <= $maxDistance
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM est WHERE jaccard_dist <= $maxDistance),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM dedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src),
       |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  /** DuckDB twin of [[Dedup.dupClusters]] over [[Dedup
    * .minhashBandedPairs]].
    */
  private def dupClusterOracle(maxDistance: Double, numHashes: Int = 16,
      bands: Int = 4): String =
    s"""${dupClosureCtes(maxDistance, numHashes, bands)}
       |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_rep
       |FROM cl ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the `dedup_keep_best` policy: the [[dupClosureCtes]]
    * closure, joined to documents, longest-doc-wins window.
    */
  private def dedupKeepBestOracle(maxDistance: Double, numHashes: Int = 16,
      bands: Int = 4): String =
    s"""${dupClosureCtes(maxDistance, numHashes, bands)},
       |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
       |  FROM cl JOIN documents d USING (doc_id))
       |SELECT cluster_id, doc_id AS best_doc, n_chars AS best_chars,
       |  cluster_size
       |FROM (
       |  SELECT cluster_id, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY n_chars DESC, doc_id) AS rk,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
       |      AS cluster_size
       |  FROM j)
       |WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** Shared seeds/assignment CTE prefix of the flat-quantizer IVF
    * oracles (`ann_ivf_flat`, `kmeans_step`): md5-ordered seed sample,
    * rounded-L2 distances, argmin cell assignment with the seed-id
    * tiebreak — mirrors [[Similarity]]'s `flatSeeds`/`flatAssigned`.
    */
  private val ivfFlatCtes: String =
    """WITH seeds AS (
      |  SELECT vec_id AS seed_id, embedding AS seed FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |d AS (
      |  SELECT e.vec_id, s.seed_id,
      |    round(sum((CAST(e.embedding[i] AS DOUBLE) - CAST(s.seed[i] AS DOUBLE))
      |            * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.seed[i] AS DOUBLE))),
      |          6) AS d2
      |  FROM embeddings e, seeds s, range(1, 65) t(i)
      |  GROUP BY e.vec_id, s.seed_id),
      |asn AS (
      |  SELECT vec_id, seed_id AS cell FROM d
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) = 1)""".stripMargin

  /** [[ivfFlatCtes]] with the seed count selected by the same CASE over
    * count(*) as [[Similarity.semDedupCells]] (QUALIFY rank ≤ k instead
    * of a constant LIMIT), so the semdedup oracle tracks the adaptive
    * quantizer at every corpus size. ann_ivf_flat / kmeans_step keep
    * the fixed-16 prefix: their cost is probe-/centroid-bound, not
    * pair-bound, so nothing forces their k to move with n.
    */
  private val semDedupKselCase: String = Similarity.semDedupCellSteps.init
    .map { case (m, k) => s"WHEN count(*) <= $m THEN $k" }
    .mkString("CASE ", " ", s" ELSE ${Similarity.semDedupCellSteps.last._2} END")

  private val ivfAdaptiveCtes: String =
    s"""WITH ksel AS (
      |  SELECT $semDedupKselCase AS k
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS seed_id, embedding AS seed FROM embeddings
      |  QUALIFY row_number()
      |    OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
      |    <= (SELECT k FROM ksel)),
      |d AS (
      |  SELECT e.vec_id, s.seed_id,
      |    round(sum((CAST(e.embedding[i] AS DOUBLE) - CAST(s.seed[i] AS DOUBLE))
      |            * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.seed[i] AS DOUBLE))),
      |          6) AS d2
      |  FROM embeddings e, seeds s, range(1, 65) t(i)
      |  GROUP BY e.vec_id, s.seed_id),
      |asn AS (
      |  SELECT vec_id, seed_id AS cell FROM d
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) = 1)""".stripMargin

  private def ngramJaccardOracle(minJaccard: Double, maxDistance: Double,
      numHashes: Int = 16, bands: Int = 4): String =
    s"""${minhashCtes(numHashes, bands)}
       |SELECT * FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |      / CAST(len(list_distinct(ga.grams || gb.grams)) AS DOUBLE) AS jaccard
       |  FROM (SELECT doc_a, doc_b FROM est WHERE jaccard_dist <= $maxDistance) p
       |  JOIN gsets ga ON p.doc_a = ga.doc_id
       |  JOIN gsets gb ON p.doc_b = gb.doc_id)
       |WHERE jaccard >= $minJaccard
       |ORDER BY doc_a, doc_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", (s, dir) => Dedup.exact(t(s, dir, "documents")),
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),
    QueryDef("dedup_exact_window", (s, dir) =>
      Dedup.exactWindow(t(s, dir, "documents")),
      s"""SELECT doc_id, lang, n_chars FROM documents
         |QUALIFY row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin),
    QueryDef("dedup_minhash", (s, dir) =>
      Dedup.minhashBandedPairs(t(s, dir, "documents")),
      // parameters MUST mirror the registered queries above
      minhashOracle(maxDistance = 0.6)),
    // pair list -> connected components -> per-doc cluster label; the
    // step that decides WHICH near-dups to drop
    QueryDef("dedup_cluster", (s, dir) =>
      Dedup.dupClusters(Dedup.minhashBandedPairs(t(s, dir, "documents"))),
      dupClusterOracle(maxDistance = 0.6)),
    // Confident-learning-style label-noise detection by near-dup
    // consensus: within each minhash cluster, the majority `lang` is
    // the consensus label and members disagreeing with it are suspects
    // (content that is the same text should not carry different
    // labels). Majority is deterministic: row_number over (votes DESC,
    // lang) — the vote-count tiebreak is lexicographic. The cluster
    // table is pair-bounded (only docs in ≥1 near-dup pair), so the
    // vote windows run over a set far smaller than the corpus — the
    // 100 TB cost stays in the banded-LSH pair join it reuses.
    QueryDef("label_noise_detect", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cl = Dedup.dupClusters(
          Dedup.minhashBandedPairs(t(s, dir, "documents")))
        .select(col("doc_id"), col("cluster_id"))
      val j = cl.join(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      val votes = j.groupBy("cluster_id", "lang")
        .agg(count(lit(1)).as("v"))
      val maj = votes.select(col("cluster_id"),
          col("lang").as("majority_lang"),
          row_number().over(Window.partitionBy("cluster_id")
            .orderBy(col("v").desc, col("lang"))).as("rk"),
          sum("v").over(Window.partitionBy("cluster_id"))
            .as("cluster_size"))
        .filter(col("rk") === 1).drop("rk")
      j.join(maj, Seq("cluster_id"))
        .filter(col("lang") =!= col("majority_lang"))
        .select(col("doc_id"), col("lang"), col("majority_lang"),
          col("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    },
      s"""${dupClosureCtes(0.6, 16, 4)},
         |j AS (SELECT cl.cluster_id, cl.doc_id, d.lang
         |  FROM cl JOIN documents d USING (doc_id)),
         |votes AS (SELECT cluster_id, lang, count(*) AS v
         |  FROM j GROUP BY 1, 2),
         |maj AS (SELECT cluster_id, lang AS majority_lang, cluster_size
         |  FROM (SELECT cluster_id, lang, v,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY v DESC, lang) AS rk,
         |      CAST(sum(v) OVER (PARTITION BY cluster_id) AS BIGINT)
         |        AS cluster_size
         |    FROM votes)
         |  WHERE rk = 1)
         |SELECT j.doc_id, j.lang, maj.majority_lang, j.cluster_id,
         |  maj.cluster_size
         |FROM j JOIN maj USING (cluster_id)
         |WHERE j.lang <> maj.majority_lang
         |ORDER BY j.doc_id""".stripMargin),
    // Approximation-quality gate for the minhash path itself: over ALL
    // banded candidates (no distance cut), compare the 16-hash Jaccard
    // ESTIMATE against the exact 3-gram Jaccard — mean/max absolute
    // error (pico-quantized before the sum) and the precision of the
    // dist≤0.6 predicate against exact-Jaccard≥0.4 truth. The numbers
    // that justify trusting banded LSH before a 100 TB dedup run.
    // Estimates are exact binary (k/16); only the final readouts are
    // IEEE, mirrored.
    QueryDef("near_dup_eval", (s, dir) => {
      val d = t(s, dir, "documents")
      val grams = d.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("g"))
      val j = Dedup.minhashBandedPairs(d, maxDistance = 1.0)
        .join(grams.select(col("doc_id").as("doc_a"), col("g").as("ga")),
          "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("g").as("gb")),
          "doc_b")
        .select(col("jaccard_dist").as("dist"),
          (size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb"))).cast("double"))
            .as("jac"))
      j.select(col("dist"), col("jac"),
          bround(abs((lit(1.0) - col("dist")) - col("jac")) * 1e12)
            .cast("long").as("ep"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dist") <= 0.6, 1L)).as("n_pred_dup"),
          sum(when(col("dist") <= 0.6 && col("jac") >= 0.4, 1L))
            .as("n_true_dup"),
          bround(sum("ep").cast("double") / count(lit(1)) / 1e12, 6)
            .as("mean_abs_err"),
          bround(max("ep").cast("double") / 1e12, 6).as("max_abs_err"))
        .select(col("n_candidates"), col("n_pred_dup"), col("n_true_dup"),
          when(col("n_pred_dup") > 0,
            bround(col("n_true_dup").cast("double") / col("n_pred_dup"), 6))
            .as("precision_dup"),
          col("mean_abs_err"), col("max_abs_err"))
    },
      s"""${minhashCtes(16, 4)},
         |x AS (SELECT e.jaccard_dist AS dist,
         |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
         |      / CAST(len(list_distinct(ga.grams || gb.grams)) AS DOUBLE)
         |      AS jac
         |  FROM est e
         |  JOIN gsets ga ON e.doc_a = ga.doc_id
         |  JOIN gsets gb ON e.doc_b = gb.doc_id),
         |y AS (SELECT dist, jac,
         |    CAST(round_even(abs((1.0 - dist) - jac)
         |      * 1000000000000.0, 0) AS BIGINT) AS ep
         |  FROM x)
         |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN dist <= 0.6 THEN 1 END) AS BIGINT)
         |    AS n_pred_dup,
         |  CAST(sum(CASE WHEN dist <= 0.6 AND jac >= 0.4 THEN 1 END)
         |    AS BIGINT) AS n_true_dup,
         |  CASE WHEN sum(CASE WHEN dist <= 0.6 THEN 1 END) > 0 THEN
         |    round_even(CAST(sum(CASE WHEN dist <= 0.6 AND jac >= 0.4
         |        THEN 1 END) AS DOUBLE)
         |      / sum(CASE WHEN dist <= 0.6 THEN 1 END), 6) END
         |    AS precision_dup,
         |  round_even(CAST(sum(ep) AS DOUBLE) / count(*)
         |    / 1000000000000.0, 6) AS mean_abs_err,
         |  round_even(CAST(max(ep) AS DOUBLE) / 1000000000000.0, 6)
         |    AS max_abs_err
         |FROM y""".stripMargin),
    // Threshold-tuning curve for near-dup dedup: exact-Jaccard
    // histogram over ALL banded candidates (0.1-wide bins) plus the
    // cumulative pair count at-or-above each bin — the curve that says
    // what a 0.7 vs 0.8 cutoff would actually delete, measured before
    // committing a corpus-scale dedup pass.
    QueryDef("dedup_threshold_sweep", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val grams = d.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("g"))
      val j = Dedup.minhashBandedPairs(d, maxDistance = 1.0)
        .join(grams.select(col("doc_id").as("doc_a"), col("g").as("ga")),
          "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("g").as("gb")),
          "doc_b")
        .select((size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))).cast("double")).as("jac"))
      j.select(least(floor(col("jac") * 10), lit(9)).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .select(col("bin"), bround(col("bin") / lit(10.0), 1)
            .as("jaccard_lo"),
          col("n_pairs"),
          sum("n_pairs").over(Window.orderBy(col("bin").desc))
            .as("pairs_at_or_above"))
        .orderBy("bin")
    },
      s"""${minhashCtes(16, 4)},
         |x AS (SELECT
         |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
         |      / CAST(len(list_distinct(ga.grams || gb.grams)) AS DOUBLE)
         |      AS jac
         |  FROM est e
         |  JOIN gsets ga ON e.doc_a = ga.doc_id
         |  JOIN gsets gb ON e.doc_b = gb.doc_id),
         |b AS (SELECT CAST(least(floor(jac * 10), 9) AS INT) AS bin
         |  FROM x),
         |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM b GROUP BY bin)
         |SELECT bin, round_even(bin / 10.0, 1) AS jaccard_lo, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT)
         |    AS pairs_at_or_above
         |FROM c ORDER BY bin""".stripMargin),
    // False-positive-rate audit of the ACTUAL BloomFilterAgg artifact:
    // build a deliberately small filter (2048 bits, k=4) over the odd
    // half's fingerprints, probe every even-half doc through the real
    // `mayContain` Column, and compare against exact set membership —
    // measured FPR over true negatives. The oracle REBUILDS the filter
    // relationally from the portable Kirsch–Mitzenmacher md5 pair
    // (CountMinSketchAgg.hashPair's documented DuckDB spelling), so a
    // drift in the JVM bit path breaks the hash compare. The sizing
    // audit a 100 TB decontamination pass runs before trusting a
    // broadcast filter's m/k.
    QueryDef("bloom_fpr_eval", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val nBits = 2048
      val k = 4
      val fpCol = TextAnalysis.fingerprint(col("text"))
      // NULL text → null fingerprint: the typed Aggregator would NPE in
      // hashPair where the oracle silently drops NULL md5s — drop them
      // symmetrically on both the build and probe sides
      val bl = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(2)) === 1)
        .filter(col("text").isNotNull).select(fpCol.as("f"))
      val pr = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(2)) === 0)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), fpCol.as("f"))
      val bloomAgg = udaf(new graft.functions.BloomFilterAgg(nBits, k),
        Encoders.STRING)
      val bloom = bl.agg(bloomAgg(col("f")).as("bits"))
      val blSet = bl.distinct().withColumnRenamed("f", "bf")
      val probed = pr.crossJoin(broadcast(bloom))
        .select(col("f"),
          graft.functions.BloomFilterAgg.mayContain(
            col("bits"), col("f"), nBits, k).as("pass"))
        .join(broadcast(blSet), col("f") === col("bf"), "left")
        .select(col("pass"), col("bf").isNotNull.as("in_set"))
      probed.agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("in_set"), 1L).otherwise(0L)).as("n_in_set"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("pass") && !col("in_set"), 1L).otherwise(0L))
            .as("n_fp"))
        .select(col("n_probes"), col("n_in_set"), col("n_pass"),
          col("n_fp"),
          when(col("n_probes") - col("n_in_set") > 0,
            bround(col("n_fp").cast("double") /
              (col("n_probes") - col("n_in_set")), 6)).as("fpr"))
    },
      // relational rebuild of the 2048-bit k=4 filter: the set-bit
      // positions are (h1 + i·h2) mod 2048 over the portable md5 pair;
      // a probe passes iff all 4 of its positions are set by SOME
      // blocklist key. h2|1 keeps the stride odd (distinct positions
      // mod a power of two), so the per-probe hit count is exact.
      s"""WITH fp AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
         |  FROM documents WHERE text IS NOT NULL),
         |bl AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 1),
         |pr AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 0),
         |blh AS (SELECT f,
         |    CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5(f), 8, 7) AS BIGINT) | 1 AS h2
         |  FROM bl),
         |blpos AS (SELECT DISTINCT (h1 + t.i * h2) % 2048 AS pos
         |  FROM blh, range(0, 4) t(i)),
         |prh AS (SELECT doc_id, f,
         |    CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5(f), 8, 7) AS BIGINT) | 1 AS h2
         |  FROM pr),
         |prpos AS (SELECT doc_id, f, (h1 + t.i * h2) % 2048 AS pos
         |  FROM prh, range(0, 4) t(i)),
         |hit AS (SELECT p.doc_id, p.f, count(b.pos) AS nhit
         |  FROM prpos p LEFT JOIN blpos b USING (pos)
         |  GROUP BY p.doc_id, p.f),
         |x AS (SELECT nhit = 4 AS pass,
         |    f IN (SELECT f FROM bl) AS in_set
         |  FROM hit)
         |SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN in_set THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_set,
         |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass,
         |  CAST(sum(CASE WHEN pass AND NOT in_set THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fp,
         |  CASE WHEN count(*) - sum(CASE WHEN in_set THEN 1 ELSE 0 END) > 0
         |    THEN round_even(
         |      CAST(sum(CASE WHEN pass AND NOT in_set THEN 1 ELSE 0 END)
         |        AS DOUBLE)
         |      / (count(*) - sum(CASE WHEN in_set THEN 1 ELSE 0 END)), 6)
         |    END AS fpr
         |FROM x""".stripMargin),
    // The PRODUCTION sizing discipline bloom_fpr_eval's saturated
    // 2048-bit audit motivates: estimate the build-side cardinality
    // with the portable HLL sketch (one cheap pre-pass, the 100 TB
    // idiom — never an exact count-distinct shuffle), derive
    // m = 64·⌈10·n̂/64⌉ bits (10 bits/key) and k = 7 (optimal for that
    // density), THEN build and audit. Every step — the HLL registers,
    // the estimate, the ceil sizing, the bit probes mod m — is the
    // engine's portable md5 arithmetic, so DuckDB re-derives the same
    // m from the same registers and rebuilds the same filter. Measured
    // FPR ≈ 1% at every SF where the fixed 2048-bit filter saturates
    // to ~98% at sf0.1.
    QueryDef("bloom_autosize_fpr", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val fpCol = TextAnalysis.fingerprint(col("text"))
      val bl = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(2)) === 1)
        .filter(col("text").isNotNull).select(fpCol.as("f"))
      val pr = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(2)) === 0)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), fpCol.as("f"))
      val hll = udaf(new graft.functions.HyperLogLogAgg(), Encoders.STRING)
      // scalar pre-count: one bounded row to the driver, exactly like
      // ivfProbeGated's 1-row query-vector fetch
      val nHat = bl.agg(hll(col("f")).as("regs"))
        .select(graft.functions.HyperLogLogAgg.estimate(col("regs")))
        .head().getDouble(0)
      // integer-safe sizing: n̂·10 (one shared rounding), /64 (exact
      // power-of-two scaling), ceil — bit-identical in any IEEE engine
      val nBits = (64L * math.max(1L, math.ceil(nHat * 10.0 / 64.0).toLong)).toInt
      val k = 7
      val bloomAgg = udaf(new graft.functions.BloomFilterAgg(nBits, k),
        Encoders.STRING)
      val bloom = bl.agg(bloomAgg(col("f")).as("bits"))
      val blSet = bl.distinct().withColumnRenamed("f", "bf")
      val probed = pr.crossJoin(broadcast(bloom))
        .select(col("f"),
          graft.functions.BloomFilterAgg.mayContain(
            col("bits"), col("f"), nBits, k).as("pass"))
        .join(broadcast(blSet), col("f") === col("bf"), "left")
        .select(col("pass"), col("bf").isNotNull.as("in_set"))
      probed.agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("in_set"), 1L).otherwise(0L)).as("n_in_set"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("pass") && !col("in_set"), 1L).otherwise(0L))
            .as("n_fp"))
        .select(lit(nHat).as("est_n"),
          lit(nBits.toLong).as("m_bits"),
          col("n_probes"), col("n_in_set"), col("n_pass"), col("n_fp"),
          when(col("n_probes") - col("n_in_set") > 0,
            bround(col("n_fp").cast("double") /
              (col("n_probes") - col("n_in_set")), 6)).as("fpr"))
    },
      // HLL registers rebuilt relationally (the hll_distinct spelling,
      // ungrouped), the same ceil sizing, then the bloom rebuild mod the
      // DERIVED m — the whole sizing discipline is value-checked, not
      // just the final counts
      s"""WITH fp AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
         |  FROM documents WHERE text IS NOT NULL),
         |bl AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 1),
         |pr AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 0),
         |hx AS (SELECT CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) AS x
         |  FROM bl),
         |br AS (SELECT x % 64 AS bucket,
         |    55 - (CASE WHEN x // 64 = 0 THEN 0
         |               ELSE length(bin(x // 64)) END) AS rho
         |  FROM hx),
         |regs AS (SELECT t.b AS bucket, coalesce(max(r.rho), 0) AS reg
         |  FROM range(0, 64) t(b) LEFT JOIN br r ON r.bucket = t.b
         |  GROUP BY t.b),
         |agg AS (SELECT
         |    CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS rw,
         |    CAST(count(*) FILTER (WHERE reg = 0) AS INT) AS zr
         |  FROM regs),
         |sz AS (SELECT
         |    round(CASE WHEN raw <= 160.0 AND zr > 0
         |               THEN 64.0 * ln(64.0 / zr) ELSE raw END, 4) AS est_n
         |  FROM (SELECT zr,
         |      (0.709 * 4096) * pow(2.0, 55) / CAST(rw AS DOUBLE) AS raw
         |    FROM agg)),
         |mm AS (SELECT est_n,
         |    64 * greatest(1, CAST(ceil(est_n * 10.0 / 64.0) AS BIGINT))
         |      AS m FROM sz),
         |blh AS (SELECT f,
         |    CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5(f), 8, 7) AS BIGINT) | 1 AS h2
         |  FROM bl),
         |blpos AS (SELECT DISTINCT (b.h1 + t.i * b.h2) % m.m AS pos
         |  FROM blh b, mm m, range(0, 7) t(i)),
         |prh AS (SELECT doc_id, f,
         |    CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5(f), 8, 7) AS BIGINT) | 1 AS h2
         |  FROM pr),
         |prpos AS (SELECT p.doc_id, p.f, (p.h1 + t.i * p.h2) % m.m AS pos
         |  FROM prh p, mm m, range(0, 7) t(i)),
         |hit AS (SELECT p.doc_id, p.f, count(b.pos) AS nhit
         |  FROM prpos p LEFT JOIN blpos b USING (pos)
         |  GROUP BY p.doc_id, p.f),
         |x AS (SELECT nhit = 7 AS pass,
         |    f IN (SELECT f FROM bl) AS in_set
         |  FROM hit)
         |SELECT (SELECT est_n FROM mm) AS est_n,
         |  (SELECT CAST(m AS BIGINT) FROM mm) AS m_bits,
         |  CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN in_set THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_set,
         |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass,
         |  CAST(sum(CASE WHEN pass AND NOT in_set THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fp,
         |  CASE WHEN count(*) - sum(CASE WHEN in_set THEN 1 ELSE 0 END) > 0
         |    THEN round_even(
         |      CAST(sum(CASE WHEN pass AND NOT in_set THEN 1 ELSE 0 END)
         |        AS DOUBLE)
         |      / (count(*) - sum(CASE WHEN in_set THEN 1 ELSE 0 END)), 6)
         |    END AS fpr
         |FROM x""".stripMargin),
    QueryDef("dedup_simhash", (s, dir) => Dedup.simhashPairs(t(s, dir, "documents")),
      simhashOracle(maxHamming = 6)),
    QueryDef("ngram_jaccard", (s, dir) => Dedup.ngramJaccard(t(s, dir, "documents")),
      ngramJaccardOracle(minJaccard = 0.1, maxDistance = 0.8)),
    QueryDef("lang_id", (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id"),
      {
        val scores = TextAnalysis.stopwords
          .map { case (l, _) => s"${stopCount(l)} AS s_$l" }.mkString(",\n  ")
        s"""SELECT doc_id, ${TextAnalysis.stopwords.map("s_" + _._1).mkString(", ")},
           |  ${TextAnalysis.langIdCaseSql} AS predicted_lang
           |FROM (SELECT doc_id, $scores FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),
    // RAKE multi-word keyphrases (see [[TextAnalysis.rakeKeywords]])
    QueryDef("keyword_rake", (s, dir) =>
      TextAnalysis.rakeKeywords(docsFan(s, dir)),
      // same islands (pos − row_number), same integer-micros word scores
      {
        val stops = TextAnalysis.stopwords.head._2.split("\\|")
          .map(w => s"'$w'").mkString(", ")
        s"""WITH tk AS (SELECT doc_id,
           |    CAST(generate_subscripts(a, 1) AS INT) AS pos,
           |    unnest(a) AS w
           |  FROM (SELECT doc_id,
           |      string_split_regex(lower(text), '[^a-z0-9]+') AS a
           |    FROM documents)),
           |ct AS (SELECT * FROM tk WHERE w <> '' AND w NOT IN ($stops)),
           |il AS (SELECT *, pos - row_number()
           |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM ct),
           |ph AS (SELECT doc_id, grp,
           |    string_agg(w, ' ' ORDER BY pos) AS phrase,
           |    CAST(count(*) AS BIGINT) AS len
           |  FROM il GROUP BY 1, 2),
           |ws AS (SELECT w, CAST(round_even(CAST(sum(len) AS DOUBLE)
           |      * 1000000.0 / count(*), 0) AS BIGINT) AS sw
           |  FROM il JOIN ph USING (doc_id, grp) GROUP BY 1),
           |dp AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n,
           |    max(len) AS n_words FROM ph GROUP BY 1),
           |px AS (SELECT phrase, n, n_words,
           |    unnest(string_split(phrase, ' ')) AS w FROM dp)
           |SELECT phrase, max(n) AS n, max(n_words) AS n_words,
           |  CAST(sum(sw) AS BIGINT) AS score_micros,
           |  round(CAST(sum(sw) AS DOUBLE) / 1000000.0, 6) AS score
           |FROM px JOIN ws USING (w) GROUP BY phrase
           |ORDER BY score_micros DESC, phrase LIMIT 20""".stripMargin
      }),
    QueryDef("quality_score", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents")).orderBy("doc_id"),
      s"""SELECT doc_id, n_chars_calc, n_tokens, punct_cnt, stop_cnt,
         |  CAST(punct_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS punct_ratio,
         |  CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |  CAST(n_chars_calc AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
         |  (n_tokens >= 5 AND n_tokens <= 10000
         |    AND CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.0) AS keep
         |FROM (SELECT doc_id,
         |  length(text) AS n_chars_calc,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS punct_cnt,
         |  CAST(${stopCount("en")} AS INT) AS stop_cnt
         |FROM documents)
         |ORDER BY doc_id""".stripMargin),
    QueryDef("repetition_filter", (s, dir) =>
      TextAnalysis.repetitionStats(docsFan(s, dir)).orderBy("doc_id"),
      // word-bigram repetition stats; ratios are single IEEE divisions of
      // integer-valued operands, exact in both engines
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM t WHERE len(tk) >= 2),
        |pg AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
        |pd AS (SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(max(c) AS BIGINT) AS top_bigram_cnt,
        |  count(*) AS distinct_bigrams
        |  FROM pg GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
        |  length(regexp_replace(text, '\s+', '', 'g')) AS word_chars,
        |  len(regexp_extract_all(text, '#|\.\.\.')) AS symbol_cnt
        |  FROM documents)
        |SELECT doc_id, n_tokens, mean_word_len, symbol_ratio,
        |  top_bigram_frac, dup_bigram_frac,
        |  (coalesce(mean_word_len BETWEEN 3.0 AND 12.0, false)
        |    AND symbol_ratio <= 0.1 AND top_bigram_frac <= 0.18
        |    AND dup_bigram_frac <= 0.3) AS keep
        |FROM (
        |  SELECT b.doc_id, b.n_tokens,
        |    CAST(b.word_chars AS DOUBLE) / CAST(nullif(b.n_tokens, 0) AS DOUBLE)
        |      AS mean_word_len,
        |    CAST(b.symbol_cnt AS DOUBLE) / CAST(nullif(b.n_tokens, 0) AS DOUBLE)
        |      AS symbol_ratio,
        |    coalesce(CAST(pd.top_bigram_cnt AS DOUBLE)
        |      / CAST(pd.n_bigrams AS DOUBLE), 0.0) AS top_bigram_frac,
        |    coalesce(CAST(pd.n_bigrams - pd.distinct_bigrams AS DOUBLE)
        |      / CAST(pd.n_bigrams AS DOUBLE), 0.0) AS dup_bigram_frac
        |  FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id)
        |ORDER BY doc_id""".stripMargin),
    QueryDef("text_stats", (s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents")).orderBy("lang"),
      // CAST around the integer sums: DuckDB sum(BIGINT) is HUGEINT,
      // Spark's is BIGINT — cast the final scalar back for the hash compare
      """SELECT lang, count(*) AS doc_cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  max(CAST(len(regexp_extract_all(text, '\S+')) AS INT)) AS max_tokens,
        |  min(CAST(len(regexp_extract_all(text, '\S+')) AS INT)) AS min_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("doc_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id"),
    QueryDef("cosine_topk", (s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings")),
      cosineTopKOracle),
    // greedy k-center coreset (diversity selection; see
    // [[Similarity.kcenterSelect]])
    QueryDef("kcenter_select", (s, dir) =>
      Similarity.kcenterSelect(t(s, dir, "embeddings")),
      kcenterOracle),
    // closest impostors per seed (contrastive hard negatives)
    QueryDef("hard_negatives", (s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings")),
      // the same per-index dot expansion, constrained to label mismatch
      // and ranked per seed on the ROUNDED similarity (the Spark side's
      // tie contract)
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |d AS (SELECT q.qid, e.vec_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
        |      AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE)
        |      * CAST(e.embedding[i] AS DOUBLE)) AS na2,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb2
        |  FROM embeddings e, q, range(1, 65) t(i)
        |  WHERE e.label <> q.qlabel GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id,
        |    round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
        |  FROM d),
        |rk AS (SELECT qid, vec_id, sim, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rk
        |  FROM r)
        |SELECT qid, rk, vec_id, sim FROM rk WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin),
    QueryDef("retrieval_eval", (s, dir) =>
      Similarity.retrievalEval(t(s, dir, "embeddings")),
      """WITH s AS (SELECT vec_id AS qid, label AS qlabel,
        |    embedding AS qe FROM embeddings WHERE vec_id < 8),
        |d AS (SELECT s.qid, s.qlabel, e.vec_id, e.label,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(s.qe[i] AS DOUBLE))
        |      AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE)
        |      * CAST(e.embedding[i] AS DOUBLE)) AS na2,
        |    sum(CAST(s.qe[i] AS DOUBLE) * CAST(s.qe[i] AS DOUBLE)) AS nb2
        |  FROM embeddings e, s, range(1, 65) t(i)
        |  WHERE e.vec_id <> s.qid GROUP BY 1, 2, 3, 4),
        |r AS (SELECT qid, qlabel, vec_id, label,
        |    round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim FROM d),
        |rk AS (SELECT qid, qlabel,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS rk,
        |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
        |  FROM r QUALIFY rk <= 10),
        |a AS (SELECT qid, qlabel, CAST(sum(rel) AS BIGINT) AS n_rel,
        |    min(CASE WHEN rel = 1 THEN rk END) AS fr,
        |    CAST(sum(CAST(round_even(CAST(rel AS DOUBLE)
        |      / log2(CAST(rk AS DOUBLE) + 1.0) * 1000000000000.0, 0)
        |      AS BIGINT)) AS BIGINT) AS dcg
        |  FROM rk GROUP BY 1, 2),
        |ic AS (SELECT i, CAST(sum(t) OVER (ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM (SELECT t.i, CAST(round_even(1000000000000.0
        |      / log2(CAST(t.i AS DOUBLE) + 1.0), 0) AS BIGINT) AS t
        |    FROM range(1, 11) t(i)))
        |SELECT a.qid, a.qlabel, a.n_rel,
        |  CASE WHEN a.fr IS NOT NULL
        |    THEN CAST(round_even(1.0 / a.fr, 6) AS DOUBLE)
        |    ELSE 0.0 END AS mrr,
        |  CASE WHEN ic.cum IS NOT NULL
        |    THEN CAST(round_even(CAST(a.dcg AS DOUBLE)
        |      / CAST(ic.cum AS DOUBLE), 6) AS DOUBLE)
        |    ELSE 0.0 END AS ndcg
        |FROM a LEFT JOIN ic ON ic.i = a.n_rel
        |ORDER BY a.qid""".stripMargin),
    // tokenizer fertility per language — the "how many BPE pieces per
    // word does this language cost" readout that drives tokenizer
    // vocab decisions; pure aggregation over the two shared token
    // counters
    QueryDef("tokenizer_fertility", (s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("ws_tokens"),
          sum(TextAnalysis.bpeTokenCount(col("text")).cast("long"))
            .as("bpe_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"), col("n_chars"),
          bround(col("bpe_tokens").cast("double")
            / col("ws_tokens").cast("double"), 6).as("fertility"),
          bround(col("n_chars").cast("double")
            / col("bpe_tokens").cast("double"), 6).as("chars_per_token"))
        .orderBy("lang"),
      {
        val pat = TextAnalysis.bpeTokenPattern.replace("'", "''")
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
           |    AS ws_tokens,
           |  CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT)
           |    AS bpe_tokens,
           |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
           |  CAST(round_even(
           |    CAST(sum(len(regexp_extract_all(text, '$pat'))) AS DOUBLE)
           |    / CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS DOUBLE),
           |    6) AS DOUBLE) AS fertility,
           |  CAST(round_even(CAST(sum(length(text)) AS DOUBLE)
           |    / CAST(sum(len(regexp_extract_all(text, '$pat'))) AS DOUBLE),
           |    6) AS DOUBLE) AS chars_per_token
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
      }),
    // the COMPOSED higher-order-function dot product, written the way a
    // plain-SQL user would — the FuseArrayDot optimizer rule must fuse
    // it into the native codegen'd strict expression (asserted in
    // PlanSpec), making this the end-to-end gate for the rewrite: same
    // oracle discipline as cosine_topk, but the fast path is earned by
    // the rule, not by calling array_dot explicitly
    QueryDef("sql_dot_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> cast(x as double))")
          .as("qvec"))
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          bround(expr("aggregate(zip_with(vec, qvec, (x, y) -> x * y)," +
            " 0d, (s, v) -> s + v)"), 6).as("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT embedding AS qe FROM embeddings
        |  WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
        |      AS dot
        |  FROM embeddings e, q, range(1, 65) t(i)
        |  WHERE e.vec_id <> 0 GROUP BY 1)
        |SELECT vec_id, round(dot, 6) AS dot FROM d
        |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin),
    // one Lloyd iteration from the deterministic flat seeds — the
    // oracle-checkable K-means training step
    QueryDef("kmeans_step", (s, dir) =>
      Similarity.kmeansStep(t(s, dir, "embeddings")),
      // same seeds/assignment CTEs as ann_ivf_flat ([[ivfFlatCtes]] — one
      // definition), then the per-(cell,dim) mean — avg's sum-order noise
      // absorbed by round(...,6) on both sides
      s"""$ivfFlatCtes
         |SELECT a.cell, CAST(i - 1 AS INT) AS pos,
         |  round(avg(CAST(e.embedding[i] AS DOUBLE)), 6) AS m,
         |  count(*) AS members
         |FROM embeddings e JOIN asn a ON e.vec_id = a.vec_id, range(1, 65) t(i)
         |GROUP BY a.cell, i ORDER BY a.cell, pos""".stripMargin),
    // grid-cell DBSCAN: density clusters + noise over the first two
    // embedding dims — see [[Similarity.dbscanGrid]]
    QueryDef("dbscan_grid", (s, dir) =>
      Similarity.dbscanGrid(t(s, dir, "embeddings")),
      // cells → core (n ≥ 5) → 8-neighbor adjacency (the oracle may use
      // the quadratic abs-join; core cells are grid-bounded) → the same
      // 3 unrolled min-label rounds as connected_components → sizes+noise
      {
        val base =
          """WITH pts AS (SELECT
            |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.08) AS BIGINT)
            |      AS cx,
            |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.08) AS BIGINT)
            |      AS cy
            |  FROM embeddings WHERE vec_id IS NOT NULL),
            |cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n
            |  FROM pts GROUP BY 1, 2),
            |core AS MATERIALIZED (SELECT cx, cy, n,
            |    cx * 2147483648 + cy AS id
            |  FROM cells WHERE n >= 5),
            |adj AS MATERIALIZED (SELECT a.id AS src, b.id AS dst
            |  FROM core a JOIN core b
            |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            |    AND a.id <> b.id),
            |l0 AS (SELECT id AS node, id AS lbl FROM core)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""",
             |l$i AS (SELECT node, min(lbl) AS lbl FROM (
             |    SELECT node, lbl FROM l${i - 1}
             |    UNION ALL SELECT adj.src AS node, t.lbl
             |    FROM adj JOIN l${i - 1} t ON adj.dst = t.node) u
             |  GROUP BY node)""".stripMargin
        }.mkString
        s"""$base$rounds,
           |cl AS (SELECT l3.lbl AS label, CAST(count(*) AS BIGINT) AS n_cells,
           |    CAST(sum(core.n) AS BIGINT) AS n_points
           |  FROM core JOIN l3 ON core.id = l3.node GROUP BY 1),
           |noise AS (SELECT CAST(-1 AS BIGINT) AS label,
           |    CAST(count(*) AS BIGINT) AS n_cells,
           |    CAST(coalesce(sum(n), 0) AS BIGINT) AS n_points
           |  FROM cells WHERE n < 5)
           |SELECT label, n_cells, n_points FROM (
           |  SELECT * FROM cl UNION ALL SELECT * FROM noise)
           |ORDER BY n_points DESC, label""".stripMargin
      }),
    QueryDef("embedding_centroids", (s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings")),
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m,
        |  count(*) AS members
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin),
    // seeded MLlib euclidean LSH under the recall gate: emits the exact
    // euclidean top-10 (the oracle) only when the LSH probe recovers
    // ≥ 7 of them (measured: 9–10 across sf0.001/0.01/0.1)
    QueryDef("ann_lsh", (s, dir) =>
      Similarity.annTopKGated(t(s, dir, "embeddings"), k = 10,
        bucketLength = 1.0, numHashTables = 4, maxDistance = 1.5,
        minRecall = 0.7),
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |  sum((CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
        |    * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))
        |    AS d2
        |FROM embeddings e, q, range(1, 65) t(i)
        |WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        |SELECT vec_id, round(sqrt(d2), 6) AS dist
        |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),
    // KMeans-quantizer IVF under the recall gate against the exact
    // cosine top-10. nprobe 8/16 + gate 0.6: measured recall across
    // sf0.001/0.01/0.1 is 7–10 of 10, so the gate holds with margin at
    // every sf while a quantizer/assignment regression (recall →
    // ~nprobe/nlist at random) still trips it.
    QueryDef("ann_ivf", (s, dir) =>
      Similarity.ivfTopKGated(t(s, dir, "embeddings"),
        k = 10, nlist = 16, nprobe = 8, minRecall = 0.6),
      // gated seeded-ANN registrations: the emitted rows are the EXACT
      // result (below), so the oracle is plain brute force; the seeded
      // approximate path only decides whether rows are emitted at all
      cosineTopKOracle),
    // the persisted cell=-partitioned IVF index: write, probe with
    // partition pruning, gate against the exact cosine top-10 — the
    // 100 TB ANN layout under the driver's hard oracle
    QueryDef("ann_ivf_probe", (s, dir) =>
      Similarity.ivfProbeGated(t(s, dir, "embeddings"),
        Scratch.dir(dir, "ivf_index"),
        k = 10, nlist = 16, nprobe = 8, minRecall = 0.6),
      cosineTopKOracle),
    // the oracle-checkable IVF: deterministic sampled coarse quantizer,
    // so DuckDB can rebuild the whole index (seeds, assignment, probe)
    QueryDef("ann_ivf_flat", (s, dir) =>
      Similarity.ivfFlatTopK(t(s, dir, "embeddings"),
        k = 10, nlist = 16, nprobe = 4),
      // dim is fixed at 64 (range upper bound exclusive); DuckDB lists are
      // 1-indexed. Sum-order ULP noise is absorbed by round(...,6) before
      // the (sim, vec_id) ranking — same as the Spark side.
      // the flat-quantizer IVF rebuilt end-to-end: same seed sample (md5
      // order), same rounded-L2 assignment with the same tiebreak, same
      // probe cut, exact cosine over the surviving candidates
      s"""$ivfFlatCtes,
        |probe AS (
        |  SELECT seed_id AS cell FROM d WHERE vec_id = 0
        |  ORDER BY d2, seed_id LIMIT 4),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na2,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb2
        |  FROM embeddings e
        |  JOIN asn a ON e.vec_id = a.vec_id
        |  JOIN probe p ON a.cell = p.cell, q, range(1, 65) t(i)
        |  WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id)
        |SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
        |FROM sims ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    // full-corpus near-dup pair scan under the recall gate: emits the
    // exact ≥-0.4 pair set over a deterministic 1024-vector
    // hash-sample, only when the full-corpus pair scan recovers ≥ 80%
    // of it. The full side is the blocked EXACT scan, not an LSH join:
    // at a bulk-tail threshold no hash family prunes (measured 14-config
    // sweep in the cosineNearDupGated scaladoc) and the old MLlib
    // config was a degenerate single-bucket cartesian — 45 s at sf1 vs
    // 8.8 s for the shuffle-free broadcast pair scan.
    QueryDef("cosine_neardup", (s, dir) =>
      Similarity.cosineNearDupGated(embFan(s, dir),
        minCosine = 0.4, minRecall = 0.8,
        nRows = Some(Tables.parquetRowCount(s, s"$dir/embeddings.parquet"))),
      // same normalize-once spelling as Similarity.exactCosinePairs, over
      // the same deterministic 512-vector md5-order hash-sample the gate
      // bounds its exact side to (≡ the whole corpus at sf ≤ 0.01)
      """WITH smp AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
        |n AS (
        |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
        |    * CAST(embedding[i] AS DOUBLE))) AS nrm
        |  FROM smp, range(1, 65) t(i) GROUP BY vec_id),
        |v AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE) / n.nrm) AS vec
        |  FROM smp e JOIN n USING (vec_id) WHERE n.nrm > 0),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    sum(a.vec[i] * b.vec[i]) AS dot
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |c AS (SELECT vec_a, vec_b, round(dot, 6) AS cos FROM p)
        |SELECT vec_a, vec_b, cos FROM c WHERE cos >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin),
    QueryDef("multimodal_features", (s, dir) =>
      Multimodal.features(s, t(s, dir, "documents")),
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(strlen(text) AS INT) AS byte_len,
        |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS checksum,
        |  CASE WHEN strlen(text) = 0 THEN 0.0
        |    ELSE round(CAST(len(regexp_extract_all(text, '[ -~]')) AS DOUBLE)
        |      / strlen(text), 6) END AS ascii_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    // keyframe-sample + 2:1-resize stub over the video modality: the
    // variable-output partition loop (flatMap, codec shape) under the
    // hard oracle — boundaries, resized lengths, and digests all
    // recompute relationally over code points
    // audio-style frame/hop overlapped chunking (the third multimodal
    // verb); per-doc rollup keeps the gate bounded
    QueryDef("multimodal_audio", (s, dir) =>
      Multimodal.audio(s, t(s, dir, "documents")),
      // frame boundaries ⌊i·n/4⌋ in integer arithmetic, 64-code-point
      // windows, every-2nd-code-point resize via RE2 pair replace (the
      // singleton tail survives, = ceil(len/2)), 60-bit md5 digest of the
      // resized window — each step mirrors the partition loop exactly
      // frame=400/hop=160 windowing in closed form; the range bound (8)
      // covers docs up to 1520 units (fixture max is 577)
      """WITH a AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 3 = 1),
        |k AS (SELECT doc_id, text,
        |    CASE WHEN n >= 400 THEN 1 + (n - 400) // 160 ELSE 0 END AS k
        |  FROM a),
        |c AS (SELECT doc_id, CAST(t.i * 160 AS INT) AS start_unit,
        |    CAST('0x' || substr(md5(
        |      substring(text, CAST(t.i * 160 AS BIGINT) + 1, 400)),
        |      1, 15) AS BIGINT) AS checksum
        |  FROM k, range(0, 8) t(i) WHERE t.i < k.k)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  min(start_unit) AS first_start, max(start_unit) AS last_start,
        |  CAST(CAST(sum(CAST(checksum AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS VARCHAR) AS chunks_checksum
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("multimodal_frames", (s, dir) =>
      Multimodal.frames(s, t(s, dir, "documents")),
      """WITH v AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 3 = 2),
        |f AS (SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
        |    CAST(t.i * 1000 AS BIGINT) AS frame_ts_ms,
        |    substring(text, CAST(n * t.i // 4 AS BIGINT) + 1, 64) AS w
        |  FROM v, range(0, 4) t(i)),
        |r AS (SELECT doc_id, frame_idx, frame_ts_ms,
        |    CAST(length(w) AS INT) AS n_units_frame,
        |    regexp_replace(w, '([\s\S])[\s\S]', '\1', 'g') AS rz
        |  FROM f)
        |SELECT doc_id, frame_idx, frame_ts_ms, n_units_frame,
        |  CAST(length(rz) AS INT) AS n_units_resized,
        |  CAST('0x' || substr(md5(rz), 1, 15) AS BIGINT) AS checksum
        |FROM r ORDER BY doc_id, frame_idx""".stripMargin),
    // the fourth multimodal verb: per-modality payload dedup audit
    QueryDef("multimodal_dedup", (s, dir) =>
      Multimodal.dedupAudit(t(s, dir, "documents")),
      // the multimodal stub's features are all SQL-recomputable by
      // construction: 60-bit md5-prefix checksum, printable-ASCII byte
      // ratio (each printable-ASCII byte is one char, so the char-level
      // regex counts bytes), octet byte length
      """WITH m AS (SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    CAST(strlen(text) AS BIGINT) AS bl, md5(text) AS fp
        |  FROM documents),
        |g AS (SELECT modality, fp, CAST(count(*) AS BIGINT) AS sz,
        |    max(bl) AS bl
        |  FROM m GROUP BY 1, 2)
        |SELECT modality, CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(sz) - count(*) AS BIGINT) AS dup_rows,
        |  CAST(max(sz) AS BIGINT) AS max_group,
        |  CAST(sum((sz - 1) * bl) AS BIGINT) AS dup_bytes,
        |  CAST(sum(sz * bl) AS BIGINT) AS total_bytes
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("token_count_bpe", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id"),
      {
        val pat = TextAnalysis.bpeTokenPattern.replace("'", "''")
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '$pat')) AS INT) AS bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    QueryDef("neardup_signlsh", (s, dir) =>
      Similarity.signLshNearDupPairs(t(s, dir, "embeddings"), minCosine = 0.4,
        nRows = Some(Tables.parquetRowCount(s, s"$dir/embeddings.parquet"))),
      signLshOracle(minCosine = 0.4)),
    QueryDef("ann_sign", (s, dir) =>
      Similarity.annSignTopK(t(s, dir, "embeddings"), k = 10),
      annSignOracle(queryId = 0L, k = 10)),
    // decontaminate the even-id half of the corpus against the odd-id
    // half as a stand-in blocklist (exact dups planted across both)
    QueryDef("decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminate(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      decontaminateOracle),
    // same semantics THROUGH the broadcast bloom pre-filter — the
    // 100 TB path; no false negatives, so it must equal the exact
    // anti-join row for row (the oracle is the same SQL)
    QueryDef("decontaminate_bloom", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      // IDENTICAL oracle by construction: the bloom path's whole claim is
      // row-for-row equality with the exact anti-join
      decontaminateOracle),
    // the blocklist-outgrows-broadcast path: the filter lives in
    // crc32-keyed shards (count and bits derived from the blocklist
    // size, Dedup.bloomShardPlan) and the probe is a shuffle-hash join
    // on (shard, salt) — no task ever holds the whole filter, and the
    // salt keeps probe parallelism at the session's shuffle width even
    // when the filter needs few shards — same result row for row (same
    // oracle)
    QueryDef("decontaminate_bloom_sharded", (s, dir) => {
      val d = t(s, dir, "documents")
      // blockCount feeds SHARD SIZING only (bits/shard, shard count) —
      // correctness never depends on it, so the parquet-footer total
      // halved (the blocklist is the odd-doc_id half; ids are dense, so
      // this over-counts by at most the null-text sliver, the safe
      // direction: more bits, never saturation) replaces the
      // fps.count() job the old spelling ran per invocation
      // (r16 verdict item 4 — the same footer feed the similarity
      // queries got in r16 item 7).
      Dedup.decontaminateBloomSharded(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        blockCount =
          Some(Tables.parquetRowCount(s, s"$dir/documents.parquet") / 2))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      decontaminateOracle),
    QueryDef("split_assign", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(Dedup.assignSplit(t(s, dir, "documents"), "doc_id")
          .as("split"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("split", "lang"),
      // same bucket arithmetic as Dedup.assignSplit
      """SELECT split, lang, count(*) AS cnt FROM (
        |  SELECT lang,
        |    CASE WHEN bucket < 800 THEN 'train'
        |         WHEN bucket < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 1000
        |      AS bucket
        |  FROM documents))
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin),
    // END-TO-END curation pipeline — the composition a real corpus
    // build runs, registered as ONE query because plan-reuse, exchange-
    // reuse, and fusion bugs only appear composed (every stage already
    // passes alone): exact dedup (keep lowest doc_id per fingerprint)
    // → bloom decontamination against the doc_id%10==7 held-out slice
    // (the 100 TB spelling: map-side filter probe, exact re-check of
    // hits only) → token-count quality gate → hash-bucket split
    // assignment → stride chunking of the train split. One CTE-chain
    // oracle mirrors every stage. Shuffle ledger at scale: one window
    // shuffle on the 16-byte fingerprint (dedup), zero corpus shuffles
    // in decontamination (broadcast filter + broadcast re-check of the
    // tiny hit set), then map-only gates/chunking — the text column
    // crosses the wire exactly once.
    QueryDef("curation_pipeline", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val heldOut = d.filter(pmod(col("doc_id"), lit(10)) === 7)
      val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val deduped = corpus
        .withColumn("__rn", row_number().over(
          Window.partitionBy(TextAnalysis.fingerprint(col("text")))
            .orderBy("doc_id")))
        .filter(col("__rn") === 1).drop("__rn")
      val decon = Dedup.decontaminateBloom(deduped, heldOut)
      val quality = decon.filter(
        TextAnalysis.tokenCount(col("text")).between(5, 10000))
      val train = quality.filter(
        Dedup.assignSplit(quality, "doc_id") === "train")
      TextAnalysis.chunkWithStride(train, 64, 48)
        .orderBy("doc_id", "chunk_idx")
    },
      // the composed pipeline: each CTE is the oracle spelling of one
      // stage (dedup_exact_window / decontaminate / quality_score's token
      // gate / split_assign's bucket / chunk_docs), chained
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
         |ded AS (SELECT * FROM corpus
         |  QUALIFY row_number() OVER (PARTITION BY $fpSql
         |    ORDER BY doc_id) = 1),
         |dec AS (SELECT * FROM ded a WHERE NOT EXISTS (
         |  SELECT 1 FROM documents b WHERE b.doc_id % 10 = 7
         |    AND ${fpSql.replace("text", "b.text")} = ${fpSql.replace("text", "a.text")})),
         |qual AS (SELECT * FROM dec
         |  WHERE len(regexp_extract_all(text, '\\S+')) BETWEEN 5 AND 10000),
         |tr AS (SELECT * FROM qual
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
         |    AS BIGINT) % 1000 < 800),
         |t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM tr),
         |sq AS (SELECT doc_id, toks, len(toks) AS n FROM t
         |  WHERE len(toks) > 0),
         |x AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start
         |  FROM sq)
         |SELECT doc_id, start // 48 AS chunk_idx,
         |  least(64, n - start) AS chunk_tokens,
         |  md5(array_to_string(toks[start + 1 : start + 64], ' ')) AS chunk_md5
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),
    // Cross-split near-dup leakage audit: count minhash near-dup pairs
    // whose two docs landed in DIFFERENT train/val/test splits — the
    // eval-contamination failure a row-hash split cannot prevent (the
    // split hashes ids, near-dups have different ids). Reuses the
    // banded-minhash candidate pipeline and the split recipe verbatim;
    // split labels canonicalize with least/greatest so (train,test)
    // and (test,train) collapse. The cross-split rows are the audit
    // signal; same-split rows give the base rates.
    QueryDef("split_leakage", (s, dir) => {
      val sp = (c: Column) => {
        val b = Dedup.hashBucket1000(c, salt = "")
        when(b < 800, "train").when(b < 900, "val").otherwise("test")
      }
      Dedup.minhashBandedPairs(t(s, dir, "documents"))
        .select(sp(col("doc_a")).as("sa"), sp(col("doc_b")).as("sb"))
        .groupBy(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_a", "split_b")
    },
      s"""${minhashCtes(16, 4)},
         |fp AS (SELECT doc_a, doc_b FROM est WHERE jaccard_dist <= 0.6),
         |lab AS (SELECT
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_a AS VARCHAR)),
         |        1, 7) AS BIGINT) % 1000 < 800 THEN 'train'
         |      WHEN CAST('0x' || substr(md5(CAST(doc_a AS VARCHAR)),
         |        1, 7) AS BIGINT) % 1000 < 900 THEN 'val'
         |      ELSE 'test' END AS sa,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_b AS VARCHAR)),
         |        1, 7) AS BIGINT) % 1000 < 800 THEN 'train'
         |      WHEN CAST('0x' || substr(md5(CAST(doc_b AS VARCHAR)),
         |        1, 7) AS BIGINT) % 1000 < 900 THEN 'val'
         |      ELSE 'test' END AS sb
         |  FROM fp)
         |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // cluster -> KEEP policy: within each near-dup cluster keep the
    // longest document (ties to the smaller id) — the policy step a real
    // dedup pipeline runs after cluster resolution, where "keep the
    // min id" would discard the best copy
    QueryDef("dedup_keep_best", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val cl = Dedup.dupClusters(Dedup.minhashBandedPairs(d))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      cl.join(d.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rk", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("best_doc"),
          col("n_chars").as("best_chars"), col("cluster_size"))
        .orderBy("cluster_id")
    },
      dedupKeepBestOracle(maxDistance = 0.6)),
    // token-budgeted shard packing: per-language running token total
    // (exclusive), shard = total div budget — how a training corpus
    // splits into byte/token-bounded output files. Partitioned by lang
    // so the running sum stays parallel; a globally-ordered pack would
    // need the two-phase block-prefix form instead.
    QueryDef("shard_assign", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
        .withColumn("shard",
          floor((sum("ntok").over(w) - col("ntok")) / lit(5000.0)))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
        .orderBy("lang", "shard")
    },
      // same running-total arithmetic; floor of the identical IEEE
      // division, integer sums cast back to BIGINT
      """WITH tk AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok
        |  FROM documents),
        |cum AS (
        |  SELECT lang, doc_id, ntok,
        |    CAST(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS running
        |  FROM tk)
        |SELECT lang, CAST(floor((running - ntok) / 5000.0) AS BIGINT) AS shard,
        |  count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS tokens
        |FROM cum GROUP BY lang, shard ORDER BY lang, shard""".stripMargin),
    QueryDef("sample_per_group", (s, dir) =>
      Dedup.samplePerGroup(t(s, dir, "documents"), "lang", "doc_id", 3)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn"),
      """SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rn
        |FROM documents
        |QUALIFY rn <= 3
        |ORDER BY lang, rn""".stripMargin),
    QueryDef("length_quantiles", (s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"),
        max("n_chars").as("max_chars"))
        .orderBy("lang"),
      // quartiles over integers interpolate at exact quarters -> both
      // engines' linear-interpolation formulas are FP-exact and equal
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("pii_scrub", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.piiCount(col("text")).as("pii_spans"),
        length(TextAnalysis.redactPii(col("text"))).as("redacted_len"),
        length(col("text")).as("orig_len"))
        .orderBy("doc_id"),
      {
        // the pattern goes into a single-quoted DuckDB literal VERBATIM —
        // DuckDB does not process backslashes there, so doubling them
        // would hand RE2 a literal-backslash pattern that matches nothing
        // (and silently vacate the oracle)
        val em = TextAnalysis.emailPattern
        val num = TextAnalysis.longDigitPattern
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$em'))
           |    + len(regexp_extract_all(text, '$num')) AS INT) AS pii_spans,
           |  length(regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
           |    '$num', '<NUM>', 'g')) AS redacted_len,
           |  length(text) AS orig_len
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    QueryDef("corpus_report", (s, dir) =>
      CorpusReport.report(t(s, dir, "documents")),
      s"""SELECT n_docs, n_langs, distinct_docs,
         |  1.0 - CAST(distinct_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
         |  total_tokens, total_chars,
         |  CAST(quality_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate,
         |  pii_docs
         |FROM (SELECT
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT $fpSql) AS BIGINT) AS distinct_docs,
         |  CAST(sum(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT)
         |    AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  count(CASE WHEN len(regexp_extract_all(text, '\\S+')) BETWEEN 5 AND 10000
         |             THEN 1 END) AS quality_keep,
         |  count(CASE WHEN len(regexp_extract_all(text,
         |      '${TextAnalysis.emailPattern}'))
         |    + len(regexp_extract_all(text, '${TextAnalysis.longDigitPattern}')) > 0
         |             THEN 1 END) AS pii_docs
         |FROM documents)""".stripMargin),
    QueryDef("tfidf_top_terms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 10),
      // dfg mirrors the Spark side's df definition EXACTLY — sum of the
      // per-(lang, term) distinct-doc counts — so the two agree even on a
      // corpus where one doc_id appears under several langs
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |lt AS (SELECT lang, term, count(*) AS tf,
        |  count(DISTINCT doc_id) AS df_lang FROM t GROUP BY lang, term),
        |dfg AS (SELECT term, CAST(sum(df_lang) AS BIGINT) AS df
        |  FROM lt GROUP BY term),
        |scored AS (
        |  SELECT lt.lang, lt.term,
        |    round_even(CAST(lt.tf AS DOUBLE) *
        |      ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dfg.df AS DOUBLE) + 1.0)),
        |      6) AS score
        |  FROM lt JOIN dfg ON lt.term = dfg.term, n),
        |ranked AS (
        |  SELECT lang, term, score,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, term ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT lang, term, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin),
    // downsample low-quality sources to a target mix; report the
    // per-source survivor counts
    QueryDef("mixture_sample", (s, dir) =>
      Dedup.sampleByMixture(t(s, dir, "documents"), "doc_id", mixtureRates)
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source"),
      {
        val arms = mixtureRates.map { case (s, r) =>
          s"WHEN source = '$s' THEN $r"
        }.mkString(" ")
        s"""SELECT source, count(*) AS kept FROM documents
           |WHERE CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 7)
           |        AS BIGINT) % 1000
           |      < (CASE $arms ELSE 1000 END)
           |GROUP BY source ORDER BY source""".stripMargin
      }),
    // edit-distance verification of LSH candidates: the exact (O(n·m)
    // per pair) measure runs ONLY on banded-minhash survivors — the
    // two-tier cheap-filter / exact-verify shape every fuzzy matcher
    // takes at scale. levenshtein() is codegen'd and per-row; the
    // candidate join bounds the quadratic work.
    QueryDef("fuzzy_match", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.minhashBandedPairs(d)
        .select("doc_a", "doc_b")
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
          length(col("ta")).cast("long").as("len_a"),
          length(col("tb")).cast("long").as("len_b"))
        .orderBy("doc_a", "doc_b")
    },
      // exact edit distance over the SAME banded candidates
      s"""${minhashCtes(16, 4)}
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
         |  CAST(length(da.text) AS BIGINT) AS len_a,
         |  CAST(length(db.text) AS BIGINT) AS len_b
         |FROM (SELECT doc_a, doc_b FROM est WHERE jaccard_dist <= 0.6) c
         |JOIN documents da ON c.doc_a = da.doc_id
         |JOIN documents db ON c.doc_b = db.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Jaro-Winkler over the same LSH candidates — OUR native expression
    // ([[graft.functions.JaroWinkler]]; Spark has no builtin) verified
    // value-for-value against DuckDB's independent implementation, on
    // real pairs at every scale factor. 6-dp round on both sides.
    QueryDef("jaro_winkler", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val jw = (a: Column, b: Column) =>
        org.apache.spark.sql.graftbridge.GraftBridge.column(
          graft.functions.JaroWinkler(
            org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
            org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))
      Dedup.minhashBandedPairs(d)
        .select("doc_a", "doc_b")
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          bround(jw(col("ta"), col("tb")), 6).as("jw"))
        .orderBy("doc_a", "doc_b")
    },
      s"""${minhashCtes(16, 4)}
         |SELECT doc_a, doc_b,
         |  round_even(jaro_winkler_similarity(da.text, db.text), 6) AS jw
         |FROM (SELECT doc_a, doc_b FROM est WHERE jaccard_dist <= 0.6) c
         |JOIN documents da ON c.doc_a = da.doc_id
         |JOIN documents db ON c.doc_b = db.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Sorted-neighborhood entity resolution — the SORT-based
    // alternative to hash blocking (minhash/simhash band-joins):
    // block on the first token, range-sort each block by the compare
    // key (80-char text prefix, doc_id tiebreak for duplicate keys),
    // and score only the w=2 forward neighbors via lead() — linear
    // candidates per row instead of all-pairs, and the sort + window
    // distribute by block with no further shuffle. Jaro–Winkler via
    // OUR codegen'd expression, thresholded and ordered on the
    // 6-dp-rounded value on BOTH sides so boundary pairs can't flap
    // across engines. The classic survey shape: Herzog/Scheuren/
    // Winkler's sorted neighborhood with a window of 3.
    QueryDef("sorted_neighborhood", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val jw = (a: Column, b: Column) =>
        org.apache.spark.sql.graftbridge.GraftBridge.column(
          graft.functions.JaroWinkler(
            org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
            org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))
      val p = t(s, dir, "documents").select(
        col("doc_id").as("k"),
        substring(col("text"), 1, 80).as("nm"),
        split(col("text"), " ").getItem(0).as("blk"))
      val win = Window.partitionBy("blk").orderBy("nm", "k")
      val w = p.select(col("blk"), col("k"), col("nm"),
        lead("nm", 1).over(win).as("n1"), lead("k", 1).over(win).as("k1"),
        lead("nm", 2).over(win).as("n2"), lead("k", 2).over(win).as("k2"))
      val cand = w.filter(col("k1").isNotNull)
        .select(col("blk"), col("k").as("a"), col("k1").as("b"),
          bround(jw(col("nm"), col("n1")), 6).as("jw"))
        .unionByName(w.filter(col("k2").isNotNull)
          .select(col("blk"), col("k").as("a"), col("k2").as("b"),
            bround(jw(col("nm"), col("n2")), 6).as("jw")))
      cand.filter(col("jw") >= 0.90)
        .orderBy(col("jw").desc, col("a"), col("b"))
        .limit(50)
    },
      // same blocked sort + w=2 lead window; jw rounded BEFORE the
      // threshold and the ordering, as on the engine side
      """WITH p AS (SELECT doc_id AS k, substr(text, 1, 80) AS nm,
        |    split_part(text, ' ', 1) AS blk FROM documents),
        |w AS (SELECT blk, k, nm,
        |    lead(nm, 1) OVER win AS n1, lead(k, 1) OVER win AS k1,
        |    lead(nm, 2) OVER win AS n2, lead(k, 2) OVER win AS k2
        |  FROM p WINDOW win AS (PARTITION BY blk ORDER BY nm, k)),
        |cand AS (
        |  SELECT blk, k AS a, k1 AS b,
        |    round_even(jaro_winkler_similarity(nm, n1), 6) AS jw
        |  FROM w WHERE k1 IS NOT NULL
        |  UNION ALL
        |  SELECT blk, k, k2,
        |    round_even(jaro_winkler_similarity(nm, n2), 6)
        |  FROM w WHERE k2 IS NOT NULL)
        |SELECT blk, a, b, jw FROM cand WHERE jw >= 0.90
        |ORDER BY jw DESC, a, b LIMIT 50""".stripMargin),

    // Greedy maximum-coverage selection (the (1−1/e) set-cover greedy;
    // the "pick the 5 docs that teach the most new vocabulary"
    // curation pass, the coverage-side complement of kcenter_select's
    // embedding diversity): 5 rounds of argmax(new-words), each ONE
    // anti-join + keyed count over the distinct (doc, word) table —
    // the covered set grows by ≤ the chosen doc's vocabulary, and a
    // selected doc re-emits NO rows (every word covered), so
    // re-selection is structurally impossible. The per-round top-1
    // collect is the kcenter/IVF driver-state precedent (≤5 rows
    // total); state localCheckpoints per round.
    QueryDef("greedy_cover", (s, dir) => {
      import s.implicits._
      // coverage unit = 3-token shingles (the dedup unit), NOT single
      // words: the synthetic corpus draws from a ~31-word vocabulary,
      // so word coverage saturates in one pick; the shingle universe
      // scales with the corpus
      val w = docsFan(s, dir) // fanout: the shingle explode dominates
        .select(col("doc_id"),
          explode(Dedup.shingles(lower(col("text")))).as("w"))
        .distinct()
        .localCheckpoint()
      // the covered set keeps its own column name AND a fresh alias
      // per round: both sides descend from the same checkpointed `w`
      // plan, and without re-aliasing the anti-join's key attributes
      // share exprIds — the self-join-branch dedup gotcha — which
      // degenerates the condition and empties the join
      var covered = s.emptyDataset[String].toDF("cw")
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      var cum = 0L
      var saturated = false
      for (i <- 1 to 5 if !saturated) {
        val top = w.join(covered, col("w") === col("cw"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).collect()
        if (top.isEmpty) saturated = true // nothing left to cover
        else {
          val (id, gain) = (top(0).getLong(0), top(0).getLong(1))
          cum += gain
          sel += ((i, id, gain, cum))
          covered = covered
            .unionByName(w.filter(col("doc_id") === id)
              .select(col("w").as("cw")))
            .distinct()
            .localCheckpoint()
        }
      }
      sel.toSeq.toDF("sel_order", "doc_id", "gain", "covered_cum")
        .orderBy("sel_order")
    },
      // generated unroll (the kcenter/kcore discipline): each round is
      // argmax(uncovered-word count) + covered-set union; a chosen doc
      // contributes no uncovered rows afterwards, so NOT-IN exclusion
      // is unnecessary
      {
        val rounds = (1 to 5).map { i =>
          val anti = if (i == 1) ""
            else s" WHERE w NOT IN (SELECT w FROM c${i - 1})"
          val cover = if (i == 1)
            s"""c1 AS MATERIALIZED (SELECT DISTINCT w.w
               |  FROM w JOIN s1 USING (doc_id))""".stripMargin
          else
            s"""c$i AS MATERIALIZED (SELECT w FROM c${i - 1}
               |  UNION SELECT w.w FROM w JOIN s$i USING (doc_id))"""
              .stripMargin
          s""",
             |s$i AS MATERIALIZED (SELECT doc_id,
             |    CAST(count(*) AS BIGINT) AS gain
             |  FROM w$anti GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
             |$cover""".stripMargin
        }.mkString
        val rows = (1 to 5).map { i =>
          s"""SELECT CAST($i AS INT) AS sel_order, doc_id, gain,
             |  (SELECT CAST(count(*) AS BIGINT) FROM c$i) AS covered_cum
             |FROM s$i""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH tk AS (SELECT doc_id,
           |    regexp_extract_all(lower(text), '\\S+') AS tk
           |  FROM documents),
           |w AS MATERIALIZED (SELECT DISTINCT doc_id,
           |    unnest(list_transform(range(1, len(tk) - 1),
           |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS w
           |  FROM tk WHERE len(tk) >= 3)$rounds
           |$rows
           |ORDER BY sel_order""".stripMargin
      }),

    // Fellegi–Sunter probabilistic record linkage, one exact EM step
    // (Winkler's EM for the m/u parameters) over the SAME
    // sorted-neighborhood candidate pairs as above — blocking keeps
    // the pair stage linear at 100 TB, and EM runs on the ≤8-row
    // agreement-PATTERN histogram, not the pairs. Three agreement
    // features: 6-dp JW ≥ 0.9, lang equality, source equality. With
    // the fixed init (p=0.1, m=0.9, u=0.1 ∀i) the E-step posterior
    // depends only on the agreement count k, and is the exact rational
    // 9^k/(9^k + 9^(4−k)) — quantized ONCE to integer micros (no libm
    // pow), so every EM sum is an exact BIGINT and the M-step is one
    // rounded division per parameter.
    QueryDef("fellegi_sunter", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val jw = (a: Column, b: Column) =>
        org.apache.spark.sql.graftbridge.GraftBridge.column(
          graft.functions.JaroWinkler(
            org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
            org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))
      val wk = (0 to 3).map { k =>
        val pm = math.pow(9.0, k); val pu = math.pow(9.0, 4 - k)
        math.round(1000000.0 * pm / (pm + pu))
      } // = 152, 12195, 500000, 987805
      val p = t(s, dir, "documents").select(col("doc_id").as("k"),
        substring(col("text"), 1, 80).as("nm"),
        split(col("text"), " ").getItem(0).as("blk"),
        col("lang"), col("source"))
      val win = Window.partitionBy("blk").orderBy("nm", "k")
      val w = p.select(col("blk"), col("k"), col("nm"), col("lang"),
        col("source"),
        lead("nm", 1).over(win).as("n1"), lead("k", 1).over(win).as("k1"),
        lead("lang", 1).over(win).as("l1"),
        lead("source", 1).over(win).as("s1"),
        lead("nm", 2).over(win).as("n2"), lead("k", 2).over(win).as("k2"),
        lead("lang", 2).over(win).as("l2"),
        lead("source", 2).over(win).as("s2"))
      def gs(nc: String, lc: String, sc: String, kc: String) =
        w.filter(col(kc).isNotNull).select(
          when(bround(jw(col("nm"), col(nc)), 6) >= 0.90, 1L)
            .otherwise(0L).as("g1"),
          when(col("lang") === col(lc), 1L).otherwise(0L).as("g2"),
          when(col("source") === col(sc), 1L).otherwise(0L).as("g3"))
      val pat = gs("n1", "l1", "s1", "k1")
        .unionByName(gs("n2", "l2", "s2", "k2"))
        .groupBy("g1", "g2", "g3").agg(count(lit(1)).as("n")) // ≤8 rows
      val kAgree = col("g1") + col("g2") + col("g3")
      val wMicros = when(kAgree === 0, lit(wk(0)))
        .when(kAgree === 1, lit(wk(1)))
        .when(kAgree === 2, lit(wk(2)))
        .otherwise(lit(wk(3)))
      val feats = pat.select(col("n"), wMicros.as("w"),
          explode(array(
            struct(lit("jw90").as("feature"), col("g1").as("g")),
            struct(lit("lang").as("feature"), col("g2").as("g")),
            struct(lit("source").as("feature"), col("g3").as("g"))))
            .as("f"))
        .select(col("n"), col("w"), col("f.feature").as("feature"),
          col("f.g").as("g"))
      feats.groupBy("feature").agg(
          sum(col("n") * col("w") * col("g")).as("mn"),
          sum(col("n") * col("w")).as("md"),
          sum(col("n") * (lit(1000000L) - col("w")) * col("g")).as("un"),
          sum(col("n") * (lit(1000000L) - col("w"))).as("ud"),
          sum(col("n")).as("n3"))
        .select(col("feature"),
          round(col("mn").cast("double") / col("md").cast("double"), 6)
            .as("m_post"),
          round(col("un").cast("double") / col("ud").cast("double"), 6)
            .as("u_post"),
          round(col("md").cast("double")
            / (col("n3").cast("double") * lit(1000000.0)), 6)
            .as("p_post"),
          col("n3").as("n_pairs"))
        .orderBy("feature")
    },
      // same blocked pairs, same rational-in-micros posterior weights
      // (k-agreement CASE; literals match the Scala-computed ones)
      """WITH p AS (SELECT doc_id AS k, substr(text, 1, 80) AS nm,
        |    split_part(text, ' ', 1) AS blk, lang, source
        |  FROM documents),
        |w AS (SELECT blk, k, nm, lang, source,
        |    lead(nm, 1) OVER win AS n1, lead(k, 1) OVER win AS k1,
        |    lead(lang, 1) OVER win AS l1, lead(source, 1) OVER win AS s1,
        |    lead(nm, 2) OVER win AS n2, lead(k, 2) OVER win AS k2,
        |    lead(lang, 2) OVER win AS l2, lead(source, 2) OVER win AS s2
        |  FROM p WINDOW win AS (PARTITION BY blk ORDER BY nm, k)),
        |g AS (
        |  SELECT CASE WHEN round_even(jaro_winkler_similarity(nm, n1), 6)
        |      >= 0.90 THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN lang = l1 THEN 1 ELSE 0 END AS g2,
        |    CASE WHEN source = s1 THEN 1 ELSE 0 END AS g3
        |  FROM w WHERE k1 IS NOT NULL
        |  UNION ALL
        |  SELECT CASE WHEN round_even(jaro_winkler_similarity(nm, n2), 6)
        |      >= 0.90 THEN 1 ELSE 0 END,
        |    CASE WHEN lang = l2 THEN 1 ELSE 0 END,
        |    CASE WHEN source = s2 THEN 1 ELSE 0 END
        |  FROM w WHERE k2 IS NOT NULL),
        |pat AS (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
        |  FROM g GROUP BY 1, 2, 3),
        |pw AS (SELECT *, CASE g1 + g2 + g3
        |    WHEN 0 THEN 152 WHEN 1 THEN 12195
        |    WHEN 2 THEN 500000 ELSE 987805 END AS w
        |  FROM pat),
        |f AS (SELECT n, w, 'jw90' AS feature, g1 AS g FROM pw
        |  UNION ALL SELECT n, w, 'lang', g2 FROM pw
        |  UNION ALL SELECT n, w, 'source', g3 FROM pw)
        |SELECT feature,
        |  round(CAST(sum(n * w * g) AS DOUBLE)
        |    / CAST(sum(n * w) AS DOUBLE), 6) AS m_post,
        |  round(CAST(sum(n * (1000000 - w) * g) AS DOUBLE)
        |    / CAST(sum(n * (1000000 - w)) AS DOUBLE), 6) AS u_post,
        |  round(CAST(sum(n * w) AS DOUBLE)
        |    / (CAST(sum(n) AS DOUBLE) * 1000000.0), 6) AS p_post,
        |  CAST(sum(n) AS BIGINT) AS n_pairs
        |FROM f GROUP BY 1 ORDER BY feature""".stripMargin),

    // higher-order array functions over the token array — transform /
    // filter / aggregate / max evaluate per-row (interpreted, but with
    // NO shuffle) where an explode would multiply the row count by
    // |tokens| before re-aggregating; fine off the hot path (the hot-path
    // ports — simhash, minhash — use explode + codegen'd aggregates)
    QueryDef("array_functions", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val lens = transform(toks, t => length(t).cast("long"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        aggregate(lens, lit(0L), (a, x) => a + x).as("tok_chars"),
        size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
        array_max(lens).as("max_len"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
        |    AS BIGINT) AS tok_chars,
        |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
        |  CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
        |    AS max_len,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |FROM t ORDER BY doc_id""".stripMargin),
    // SemDeDup: semantic near-dup pruning inside deterministic
    // coarse-quantizer cells — emits the dropped members. Cell count
    // scales with the corpus ([[Similarity.semDedupCells]]; k=16 at
    // gate SFs), mirrored by the oracle's CASE over count(*).
    QueryDef("semdedup", (s, dir) =>
      Similarity.semDedupDroppedAuto(t(s, dir, "embeddings"), minCosine = 0.35,
        nRows = Some(Tables.parquetRowCount(s, s"$dir/embeddings.parquet"))),
      // SemDeDup rebuilt end-to-end: same seed sample / rounded-L2 cell
      // assignment as ann_ivf_flat ([[ivfFlatCtes]]), normalize-once unit
      // vectors, within-cell pairs only, max rounded cosine per dropped
      // member. round_even mirrors Spark's bround.
      s"""$ivfAdaptiveCtes,
         |nrm AS (
         |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
         |    * CAST(embedding[i] AS DOUBLE))) AS nrm
         |  FROM embeddings, range(1, 65) t(i) GROUP BY vec_id),
         |nv AS (
         |  SELECT a.cell, e.vec_id,
         |    list_transform(e.embedding, x -> CAST(x AS DOUBLE) / n.nrm) AS vec
         |  FROM embeddings e JOIN nrm n USING (vec_id)
         |  JOIN asn a ON e.vec_id = a.vec_id
         |  WHERE n.nrm > 0),
         |p AS (
         |  SELECT b.cell, b.vec_id,
         |    round_even(sum(a.vec[i] * b.vec[i]), 6) AS cos
         |  FROM nv a JOIN nv b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id, range(1, 65) t(i)
         |  GROUP BY b.cell, b.vec_id, a.vec_id)
         |SELECT cell, vec_id, max(cos) AS max_sim FROM p
         |WHERE cos >= 0.35
         |GROUP BY cell, vec_id ORDER BY cell, vec_id""".stripMargin),
    // embedding-space decontamination against an md5-sampled held-out
    // set (stand-in for the eval suite): emits the contaminated ids
    QueryDef("decontaminate_embed", (s, dir) =>
      Similarity.decontaminateByEmbedding(t(s, dir, "embeddings"), nHeld = 20,
        minCosine = 0.35),
      // embedding decontamination: same md5('held:')-ordered held-out
      // sample, max rounded cosine of each remaining vector over it
      """WITH nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
        |    * CAST(embedding[i] AS DOUBLE))) AS nrm
        |  FROM embeddings, range(1, 65) t(i) GROUP BY vec_id),
        |nv AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE) / n.nrm) AS vec
        |  FROM embeddings e JOIN nrm n USING (vec_id) WHERE n.nrm > 0),
        |h AS (
        |  SELECT vec_id, vec FROM nv
        |  ORDER BY md5('held:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 20),
        |d AS (
        |  SELECT c.vec_id, h.vec_id AS hid,
        |    sum(c.vec[i] * h.vec[i]) AS dot
        |  FROM nv c, h, range(1, 65) t(i)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM h)
        |  GROUP BY c.vec_id, h.vec_id),
        |mx AS (
        |  SELECT vec_id, round_even(max(dot), 6) AS max_sim
        |  FROM d GROUP BY vec_id)
        |SELECT vec_id, max_sim FROM mx WHERE max_sim >= 0.35
        |ORDER BY vec_id""".stripMargin),
    // product-quantization ANN: ADC shortlist over a deterministic
    // sampled codebook + exact re-rank — the WHOLE index (codes,
    // distance table, shortlist, re-rank) is DuckDB-rebuildable, like
    // ann_ivf_flat. Measured recall of the re-ranked top-10 vs exact:
    // 10/10 at sf0.001/0.01/0.1.
    QueryDef("ann_pq_adc", (s, dir) =>
      Similarity.pqAdcTopK(embFan(s, dir), k = 10, m = 16, ksub = 64,
        dim = 64, rerank = 100),
      // product quantization rebuilt end-to-end: md5('pq:')-sampled
      // codebook, per-subspace rounded-L2 argmin codes (tie to the
      // smaller seed id), query distance table = the query row's own
      // subdistances, ADC shortlist = sum of table lookups, then exact
      // re-rank of the 100-row shortlist
      """WITH seeds AS (
        |  SELECT vec_id AS seed_id, embedding AS seed FROM embeddings
        |  ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |cd AS (
        |  SELECT e.vec_id, su.sub, s.seed_id,
        |    round_even(
        |      sum(CAST(e.embedding[su.sub * 4 + j] AS DOUBLE)
        |        * CAST(e.embedding[su.sub * 4 + j] AS DOUBLE))
        |      + sum(CAST(s.seed[su.sub * 4 + j] AS DOUBLE)
        |        * CAST(s.seed[su.sub * 4 + j] AS DOUBLE))
        |      - 2.0 * sum(CAST(e.embedding[su.sub * 4 + j] AS DOUBLE)
        |        * CAST(s.seed[su.sub * 4 + j] AS DOUBLE)), 6) AS d2
        |  FROM embeddings e, seeds s, range(0, 16) su(sub), range(1, 5) t(j)
        |  GROUP BY e.vec_id, su.sub, s.seed_id),
        |codes AS (
        |  SELECT vec_id, sub, seed_id AS code FROM cd
        |  QUALIFY row_number()
        |    OVER (PARTITION BY vec_id, sub ORDER BY d2, seed_id) = 1),
        |dq AS (SELECT sub, seed_id AS code, d2 AS dq FROM cd WHERE vec_id = 0),
        |short AS (
        |  SELECT c.vec_id FROM codes c
        |  JOIN dq d ON c.sub = d.sub AND c.code = d.code
        |  WHERE c.vec_id <> 0
        |  GROUP BY c.vec_id
        |  ORDER BY round_even(sum(d.dq), 6), c.vec_id LIMIT 100)
        |SELECT e.vec_id,
        |  round_even(sum((CAST(e.embedding[i] AS DOUBLE)
        |      - CAST(q.qe[i] AS DOUBLE))
        |    * (CAST(e.embedding[i] AS DOUBLE)
        |      - CAST(q.qe[i] AS DOUBLE))), 6) AS d2
        |FROM embeddings e JOIN short USING (vec_id),
        |  (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q,
        |  range(1, 65) t(i)
        |GROUP BY e.vec_id
        |ORDER BY d2, vec_id LIMIT 10""".stripMargin),
    // concat-and-chunk sequence packing: per-shard bins/straddle card
    QueryDef("pack_chunks", (s, dir) =>
      TextAnalysis.packingStats(t(s, dir, "documents"),
        capacity = 256, nShards = 8),
      // concat-and-chunk packing: same md5-bucket shard, same (md5,
      // doc_id) order, integer window cumsum, floor-div bins
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
        |    md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
        |    (CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 7)
        |      AS BIGINT) % 1000) % 8 AS shard
        |  FROM documents),
        |packed AS (
        |  SELECT shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
        |  FROM t WHERE n_tok > 0)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(max(floor((end_tok - 1) / 256)) + 1 AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN floor((end_tok - n_tok) / 256)
        |    <> floor((end_tok - 1) / 256) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_straddle
        |FROM packed GROUP BY shard ORDER BY shard""".stripMargin),
    // unigram-surprisal quality score (the relational perplexity filter)
    QueryDef("unigram_logprob", (s, dir) =>
      TextAnalysis.unigramSurprisal(t(s, dir, "documents")),
      // unigram surprisal: integer 0.1-millinat per-token scores summed
      // per doc — integer-exact on both engines
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, count(*) AS tf FROM t GROUP BY term),
        |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n_total FROM tf),
        |sc AS (
        |  SELECT t.doc_id,
        |    CAST(round(-ln(CAST(tf.tf AS DOUBLE) / n.n_total) * 10000)
        |      AS BIGINT) AS s
        |  FROM t JOIN tf USING (term), n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(s) AS BIGINT) AS surprisal,
        |  CAST(floor(CAST(sum(s) AS DOUBLE) / count(*)) AS BIGINT) AS per_tok
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** The kcenter_select oracle, built by unrolling the k−1 greedy
    * rounds (the bpe_train_rounds playbook) — each round is the same
    * (state ⊳ new-center distance fold ⊳ top-1) template, so the SQL
    * is GENERATED rather than hand-repeated. The distance is the same
    * sequential double fold as Spark's `aggregate(zip_with(...))`
    * (DuckDB `list_reduce` folds left-to-right), quantized once to
    * micros, so the running `least()` state is exact integers on both
    * engines.
    */
  private lazy val kcenterOracle: String = {
    val k = 6
    def dist = """CAST(round_even(list_reduce(list_transform(range(1, 65),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.emb[i])
      |        * (CAST(e.embedding[i] AS DOUBLE) - c.emb[i])),
      |      (x, y) -> x + y) * 1000000.0, 0) AS BIGINT)""".stripMargin
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),\n"
    // seed = min(vec_id), mirroring kcenterSelect's deterministic seed
    sb ++= ("d0 AS MATERIALIZED (SELECT e.vec_id, " + dist + " AS dmin\n" +
      "  FROM e, (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))" +
      " AS emb FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)) c),\n")
    for (i <- 1 until k) {
      val excl = (Seq("vec_id <> (SELECT min(vec_id) FROM e)") ++
        (1 until i).map(j => s"vec_id NOT IN (SELECT vec_id FROM s$j)"))
        .mkString(" AND ")
      sb ++= (s"s$i AS MATERIALIZED (SELECT vec_id, dmin FROM d${i - 1}\n" +
        s"  WHERE $excl ORDER BY dmin DESC, vec_id LIMIT 1),\n")
      if (i < k - 1)
        sb ++= (s"d$i AS MATERIALIZED (SELECT e.vec_id," +
          s" least(d${i - 1}.dmin, " + dist + ") AS dmin\n" +
          s"  FROM d${i - 1} JOIN e ON e.vec_id = d${i - 1}.vec_id,\n" +
          "    (SELECT list_transform(e2.embedding, x -> CAST(x AS DOUBLE))" +
          s" AS emb FROM e e2 JOIN s$i USING (vec_id)) c),\n")
    }
    // drop the trailing ",\n" of the last CTE
    sb.setLength(sb.length - 2)
    sb ++= "\nSELECT CAST(0 AS INT) AS sel_order," +
      " (SELECT min(vec_id) FROM e) AS vec_id," +
      " CAST(0 AS BIGINT) AS dist_micros"
    for (i <- 1 until k)
      sb ++= s"\nUNION ALL SELECT $i, vec_id, dmin FROM s$i"
    sb ++= "\nORDER BY sel_order"
    sb.toString
  }

  /** Brute-force exact cosine top-10 from vec 0 — the oracle for
    * `cosine_topk` and for both gated IVF registrations (their emitted
    * rows ARE this exact result when the gate passes).
    */
  private lazy val cosineTopKOracle: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |d AS (SELECT e.vec_id,
      |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
      |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na2,
      |  sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb2
      |FROM embeddings e, q, range(1, 65) t(i)
      |WHERE e.vec_id <> 0 GROUP BY e.vec_id)
      |SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
      |FROM d ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
}
