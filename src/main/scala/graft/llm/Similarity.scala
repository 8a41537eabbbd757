package graft.llm

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a scale-aware pipeline should have:
  *  - [[cosineTopK]]: brute-force exact cosine — the correctness
  *    baseline, O(N·d) one scan, no shuffle beyond the final top-k.
  *    Dot products run as higher-order-function folds (codegen'd), no
  *    UDF.
  *  - [[annTopK]]: bucketed random-projection LSH — the 100 TB path.
  *    Candidates come from same-bucket equi-joins; only candidates pay
  *    the exact-distance cost.
  */
object Similarity {

  /** Float array → double array (products/sums then run at full
    * precision; float accumulation drifts across engines).
    */
  private def dbl(c: Column): Column = transform(c, x => x.cast("double"))

  /** Fused codegen'd dot product ([[graft.functions.ArrayDotProduct]]).
    * Built directly from the expression (no registry dependency, works
    * on any session) — the HOF spelling
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)` is interpreted per row and
    * was the bottleneck of the brute-force scan.
    */
  private def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.ArrayDotProduct(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
        org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))

  /** Cosine similarity between two double arrays — the fused native
    * expression ([[graft.functions.ArrayCosineSimilarity]]): one array
    * pass for dot + both norms instead of three, bit-identical to the
    * composed `dot/(|a|·|b|)` for nonzero norms.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.ArrayCosineSimilarity(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(a),
        org.apache.spark.sql.graftbridge.GraftBridge.expression(b)))

  /** Exact top-k by cosine similarity to the embedding of `queryId`.
    * The query vector stays IN the plan (1-row broadcast cross join —
    * no driver collect), so the whole thing is one Catalyst plan.
    * Similarity is rounded to 6 decimals to absorb sum-order ULP noise
    * before the (sim, vec_id) ranking, making the cut deterministic.
    */
  def cosineTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(dbl(col("embedding")).as("qvec"))
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), dbl(col("embedding")).as("vec"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for each of the
    * first `nSeeds` vectors, the `k` most-similar vectors of a
    * DIFFERENT label — the "closest impostors" that make the best
    * negatives. The seed set broadcasts (bounded), the corpus scan is
    * map-only into a per-seed window top-k: one shuffle on the seed
    * key, whose cardinality is `nSeeds`, not the corpus. Similarity
    * rounds to 6 decimals before ranking (the cosineTopK contract) so
    * the cut is deterministic.
    */
  def hardNegatives(emb: DataFrame, nSeeds: Int = 5, k: Int = 3): DataFrame = {
    val seeds = emb.filter(col("vec_id") < nSeeds)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        dbl(col("embedding")).as("qvec"))
    val scored = emb
      .select(col("vec_id"), col("label"), dbl(col("embedding")).as("vec"))
      .crossJoin(broadcast(seeds))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("sim"))
      .orderBy("qid", "rk")
  }

  /** Ranked-retrieval evaluation (MRR@k, NDCG@k) — the metric pair a
    * retrieval/RAG pipeline reports next to AUC's classification view:
    * each of the first `nSeeds` vectors queries the corpus, relevance
    * is label agreement, and the readout is per-query reciprocal rank
    * of the first relevant hit plus NDCG over the top-k list (ideal =
    * the list's own relevant count, the list-NDCG convention). DCG
    * terms quantize to integer picos BEFORE the cross-rank sum (the
    * ldiversity rule) and the 10-row ideal-DCG ladder is a literal
    * grid both engines rebuild identically. Same scale shape as
    * [[hardNegatives]]: broadcast seeds, map-only scoring, one window
    * on the seed key.
    */
  def retrievalEval(emb: DataFrame, nSeeds: Int = 8, k: Int = 10)
      : DataFrame = {
    val s = emb.sparkSession
    val seeds = emb.filter(col("vec_id") < nSeeds)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        dbl(col("embedding")).as("qvec"))
    val scored = emb
      .select(col("vec_id"), col("label"), dbl(col("embedding")).as("vec"))
      .crossJoin(broadcast(seeds))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val top = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
    val term = bround(col("rel").cast("double")
      / log2(col("rk").cast("double") + 1.0) * lit(1e12)).cast("long")
    val agg = top.groupBy("qid", "qlabel").agg(
      sum("rel").cast("long").as("n_rel"),
      min(when(col("rel") === 1, col("rk"))).as("fr"),
      sum(term).as("dcg_picos"))
    val ideal = s.range(1, k.toLong + 1)
      .select(col("id").cast("int").as("i"))
      .withColumn("t", bround(lit(1e12)
        / log2(col("i").cast("double") + 1.0)).cast("long"))
      .withColumn("cum", sum("t").over(Window.orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("i", "cum")
    agg.join(broadcast(ideal), col("n_rel") === col("i"), "left")
      .select(col("qid"), col("qlabel"), col("n_rel"),
        when(col("fr").isNotNull, bround(lit(1.0) / col("fr"), 6))
          .otherwise(0.0).as("mrr"),
        when(col("cum").isNotNull, bround(col("dcg_picos").cast("double")
          / col("cum").cast("double"), 6)).otherwise(0.0).as("ndcg"))
      .orderBy("qid")
  }

  /** Approximate top-k via bucketed random-projection LSH (euclidean).
    * `approxSimilarityJoin` of the 1-row query frame against the corpus
    * equi-joins on hash buckets — candidate count stays ~constant per
    * query as the corpus grows, which is what makes this the scale
    * path. Output: neighbors by ascending euclidean distance.
    */
  def annTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      bucketLength: Double = 2.0, numHashTables: Int = 4,
      maxDistance: Double = 10.0): DataFrame = {
    val vecs = emb.select(col("vec_id"),
      array_to_vector(col("embedding")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("buckets")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(vecs)
    val q = vecs.filter(col("vec_id") === queryId)
    val corpus = vecs.filter(col("vec_id") =!= queryId)
    model.approxSimilarityJoin(q, corpus, maxDistance, "dist")
      .select(col("datasetB.vec_id").as("vec_id"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into `nlist` cells; a query probes only its `nprobe`
    * nearest cells and ranks those candidates by exact cosine
    * ([[graft.functions.ArrayDotProduct]]). The candidate set is
    * nprobe/nlist of the corpus — the classic trade of recall for a
    * bounded scan, and the natural partition layout at scale (cells =
    * files/buckets, cell assignment precomputed at ingest).
    *
    * Everything stays in-plan: centroids are a tiny broadcast frame,
    * never a driver-side loop.
    */
  def ivfTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    val spark = emb.sparkSession
    val vecs = emb.select(col("vec_id"),
      array_to_vector(col("embedding")).as("features"),
      dbl(col("embedding")).as("vec"))
    // a coarse quantizer doesn't need convergence — 8 Lloyd iterations
    // give the same recall as the default 20 at 40% of the fit cost
    val km = new KMeans().setK(nlist).setSeed(42L).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(vecs)
    val assigned = model.transform(vecs).select("vec_id", "cell", "vec")

    import spark.implicits._
    val centroids = broadcast(
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray) }.toSeq
        .toDF("cell", "centroid"))

    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("vec").as("qvec"))
    // nprobe nearest cells to the query, by centroid distance
    val probed = centroids.crossJoin(broadcast(q))
      .select(col("cell"), col("qvec"),
        (dot(col("centroid"), col("centroid"))
          - lit(2.0) * dot(col("centroid"), col("qvec"))).as("cdist"))
      .orderBy(col("cdist").asc, col("cell").asc)
      .limit(nprobe)
      .select("cell", "qvec")

    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cell") // candidates: probed cells only
      .select(col("vec_id"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF with a FLAT deterministic coarse quantizer: instead of KMeans
    * centroids ([[ivfTopK]]), the `nlist` cell centers are a
    * deterministic pseudo-random SAMPLE of the corpus — the vectors
    * with the smallest `md5(vec_id)` (the same sampling trick FAISS's
    * random-init / reservoir-train path uses; a random sample is a
    * serviceable coarse quantizer, just with less balanced cells).
    * What that buys over KMeans: every step — seed choice, cell
    * assignment (argmin of squared L2, rounded to 6 dp, ties to the
    * smaller seed id), probe ranking, candidate scoring — is plain
    * relational algebra over md5, so the ENTIRE index is rebuildable
    * and value-checkable by the DuckDB oracle, unlike any
    * iteratively-fitted quantizer. Plan shape is identical to
    * [[ivfTopK]]: tiny broadcast seed table, one window pass to
    * assign, probe = broadcast semi-join on cell id.
    */
  def ivfFlatTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
    val seeds = flatSeeds(v, nlist)
    val assigned = flatAssigned(v, seeds)

    val probed = v.filter(col("vec_id") === queryId)
      .select(col("vec").as("qvec"))
      .join(seeds)
      .withColumn("__d2", d2(col("qvec"), col("seed")))
      .orderBy(col("__d2").asc, col("seed_id").asc)
      .limit(nprobe)
      .select(col("seed_id").as("cell"), col("qvec"))

    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cell")
      .select(col("vec_id"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Squared L2, rounded to 6 dp so the argmin tiebreak is
    * engine-portable (see [[ivfFlatTopK]]).
    */
  private def d2(a: Column, b: Column): Column = bround(
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 6)

  /** Greedy k-center coreset selection (the Gonzalez farthest-point
    * traversal — the classic 2-approximation of the k-center
    * objective, and the diversity-sampling pass a training-data
    * curator runs before labeling/retention budgets): seed at vec 0,
    * then k−1 rounds of "pick the point farthest from everything
    * selected so far".
    *
    * Scale shape: the selected set is ≤ k vectors (driver-held and
    * broadcast — the IVF-centroid precedent), and each round is ONE
    * map pass folding the new center into a running per-point min
    * distance plus a top-1 readout; k scans total, no pairwise stage.
    * The running state lives in integer MICROS (one quantization of
    * the sequential double fold per distance), so `least()` chains and
    * the (dmin, vec_id) argmax tiebreak are exact across engines.
    * localCheckpoint truncates the k-deep lineage per round (the
    * pagerank_iter/dupClusters precedent).
    */
  def kcenterSelect(emb: DataFrame, k: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def q2(a: Column, b: Column): Column =
      bround(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x) * lit(1000000.0), 0).cast("long")
    val base = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
    // deterministic seed = the SMALLEST vec_id (not a hardcoded 0 —
    // a corpus without vec_id 0 would otherwise fail opaquely)
    val seedRows = base.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("vec")).collect()
    require(seedRows.nonEmpty, "kcenterSelect: empty embeddings input")
    val seedId = seedRows(0).getLong(0)
    val seed = seedRows(0).getSeq[Double](1)
    var state = base
      .withColumn("dmin", q2(col("vec"), typedlit(seed)))
      .localCheckpoint()
    val sel = scala.collection.mutable.ArrayBuffer((0, seedId, 0L))
    for (i <- 1 until k) {
      val top = state
        .filter(!col("vec_id").isInCollection(sel.map(_._2)))
        .orderBy(col("dmin").desc, col("vec_id").asc)
        .select(col("vec_id"), col("dmin"), col("vec"))
        .limit(1).collect()(0)
      sel += ((i, top.getLong(0), top.getLong(1)))
      if (i < k - 1) {
        val cv = top.getSeq[Double](2)
        state = state
          .withColumn("dmin",
            least(col("dmin"), q2(col("vec"), typedlit(cv))))
          .localCheckpoint()
      }
    }
    sel.toSeq.toDF("sel_order", "vec_id", "dist_micros")
      .orderBy("sel_order")
  }

  /** The deterministic md5-sampled seed table shared by [[ivfFlatTopK]]
    * and [[kmeansStep]].
    */
  private def flatSeeds(v: DataFrame, nlist: Int): DataFrame =
    broadcast(v
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("seed_id"), col("vec").as("seed")))

  /** Nearest-seed cell assignment: broadcast nlist-row cross product,
    * one window pass for the argmin (ties to the smaller seed id).
    */
  private def flatAssigned(v: DataFrame, seeds: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDist = Window.partitionBy("vec_id")
      .orderBy(col("__d2").asc, col("seed_id").asc)
    v.join(seeds)
      .withColumn("__d2", d2(col("vec"), col("seed")))
      .withColumn("__rn", row_number().over(byDist))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("vec"), col("seed_id").as("cell"))
  }

  /** One Lloyd iteration of K-means from the deterministic flat seeds:
    * assign every vector to its nearest seed ([[flatAssigned]] — the
    * same argmin the IVF index uses), then emit each cell's new
    * centroid as flat (cell, pos, m) rows with the member count.
    * This is the training step that turns the sampled quantizer into a
    * fitted one — and because seeds, assignment, and the mean are plain
    * relational algebra, the whole step is DuckDB-oracle-checkable,
    * which no MLlib-fitted quantizer is.
    *
    * Plan shape at 100 TB: broadcast seeds, one narrow window pass per
    * vector, then ONE hash aggregate keyed (cell, dim) with map-side
    * partials — dims fan out 64× but rows are (long, int, double)
    * triples, and the shuffle is bounded by nlist × dim groups.
    * `bround(..., 6)` absorbs float sum-order noise (the per-dim mean is
    * the only order-sensitive float reduction).
    */
  def kmeansStep(emb: DataFrame, nlist: Int = 16): DataFrame = {
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
    val assigned = flatAssigned(v, flatSeeds(v, nlist))
    assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(bround(avg("x"), 6).as("m"), count(lit(1)).as("members"))
      .orderBy("cell", "pos")
  }

  /** Per-label mean embedding (class centroids), flat (label, pos, m)
    * output: one posexplode + one hash aggregate keyed (label, dim),
    * map-side combinable — the standard building block for centroid
    * classifiers, topic drift monitoring, and per-domain embedding
    * health checks over a 100 TB corpus.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(dbl(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(bround(avg("x"), 6).as("m"), count(lit(1)).as("members"))
      .orderBy("label", "pos")

  /** Deterministic ±1 sign-projection vectors (Rademacher), one per
    * hash bit: entry (i, d) is +1 iff the low bit of md5("i:d") is set.
    * Derived once on the driver and inlined as LITERALS into both the
    * Spark plan and the DuckDB oracle, so the two engines evaluate the
    * same projection in the same left-to-right order — which makes the
    * whole sign-LSH path value-portable, unlike MLlib's seeded gaussian
    * projections.
    */
  def signProjections(nBits: Int, dim: Int): Seq[Array[Double]] =
    (0 until nBits).map { i =>
      Array.tabulate(dim) { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$i:$d".getBytes("UTF-8"))
        if ((h(0) & 0x1) == 1) 1.0 else -1.0
      }
    }

  /** Materialize the IVF index the in-memory [[ivfTopK]] only simulates:
    * KMeans cell assignment computed once at ingest, vectors written as
    * `cell=`-partitioned parquet, centroids alongside as a tiny table.
    * At 100 TB this is the layout that makes ANN cheap — a probe is a
    * PARTITION-PRUNED scan of nprobe directories, not a full pass.
    */
  def ivfWriteIndex(emb: DataFrame, dir: String, nlist: Int = 16): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    val vecs = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val km = new KMeans().setK(nlist).setSeed(42L).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(vecs)
    model.transform(vecs).select("vec_id", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Probe a persisted IVF index: rank cells by centroid distance to
    * the query (centroids are a tiny table — driver-side), then scan
    * ONLY the nprobe matching `cell=` partitions (raw IN-predicate on
    * the partition column ⇒ PruneFileSourcePartitions, asserted in
    * LlmSpec) and rank candidates by exact cosine.
    */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryVec: Array[Double], k: Int = 10, nprobe: Int = 4,
      excludeId: Long = -1L): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val probed = centroids.map { case (cell, c) =>
      val d2 = c.zip(queryVec).map { case (x, q) => val t = x - q; t * t }.sum
      (cell, d2)
    }.sortBy { case (cell, d2) => (d2, cell) }.take(nprobe).map(_._1)
    val q = array(queryVec.toIndexedSeq.map(lit(_)): _*)
    spark.read.parquet(s"$dir/vectors")
      .filter(col("cell").isin(probed.toIndexedSeq: _*) && col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        bround(cosine(dbl(col("embedding")), q), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact top-k by EUCLIDEAN distance to `queryId`'s embedding — the
    * ground truth [[annTopK]] (which ranks by euclidean `dist`)
    * approximates. Same in-plan 1-row broadcast shape as
    * [[cosineTopK]]; distance rounded to 6 dp so the (dist, vec_id)
    * cut is engine-portable.
    */
  def euclidTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(dbl(col("embedding")).as("qvec"))
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), dbl(col("embedding")).as("vec"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        bround(sqrt(aggregate(
          zip_with(col("vec"), col("qvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Unit-normalized (vec_id, vec) frame, materialized BEFORE any pair
    * join: `transform` is a higher-order function (CodegenFallback),
    * and left in the plan Catalyst collapses it into the join
    * projection — interpreted normalization per PAIR (n²) instead of
    * per vector (n). After the checkpoint the n² inner loop is only
    * the codegen'd dot. Zero-norm vectors have no cosine and drop here.
    */
  private def normalizedVecs(emb: DataFrame): DataFrame = emb
    .select(col("vec_id"), dbl(col("embedding")).as("vec"))
    .withColumn("__n", sqrt(dot(col("vec"), col("vec"))))
    .filter(col("__n") > 0)
    .select(col("vec_id"), transform(col("vec"), _ / col("__n")).as("vec"))
    .localCheckpoint()

  /** The raw-dot margin pre-filter + exact rounded threshold shared by
    * every exact pair scan: bround allocates a BigDecimal PER ROW
    * (measured 3.7 s of this query's 5.2 s at sf0.1) — pre-filter on
    * the raw dot with a half-ulp-at-scale-6 margin (any value whose
    * round-6 clears minCosine is ≥ minCosine − 5e-7), so the exact
    * rounded threshold only evaluates on the ~0.05% of pairs that
    * survive.
    */
  private def thresholdPairs(raw: DataFrame, minCosine: Double): DataFrame =
    raw.filter(col("__raw") >= minCosine - 1e-6)
      .select(col("vec_a"), col("vec_b"), bround(col("__raw"), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .orderBy("vec_a", "vec_b")

  /** Exact near-dup pair set: EVERY pair with cosine ≥ `minCosine` —
    * the ground truth the LSH candidate generators approximate. O(n²),
    * so this is the sf-scale VERIFICATION side of a recall gate (at
    * 100 TB you run it on a deterministic sample, never the full
    * corpus); the production path stays the bucketed LSH join.
    *
    * Each vector is normalized ONCE (n rows), so the n² inner loop is a
    * single fused dot per pair instead of dot + two norms — 3× less
    * arithmetic where it actually multiplies. Zero-norm vectors have no
    * cosine and are dropped up front (the un-normalized spelling drops
    * them too: NaN never clears the threshold).
    */
  def exactCosinePairs(emb: DataFrame, minCosine: Double): DataFrame = {
    val v = normalizedVecs(emb)
    thresholdPairs(
      v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          dot(col("a.vec"), col("b.vec")).as("__raw")),
      minCosine)
  }

  /** [[exactCosinePairs]] enumerated by a block schedule: vectors hash
    * into `nBlocks` disjoint blocks (crc32 of vec_id — deterministic,
    * uncorrelated with insertion order), and the pair space is covered
    * by the B·(B+1)/2 block pairs (p ≤ q): a same-block leg joins on
    * vec_id < vec_id, a cross-block leg needs no id condition (the
    * blocks are disjoint, so each unordered pair appears in exactly one
    * leg) and canonicalizes with least/greatest. The UNION of legs is
    * the unsharded pair set row for row (LlmSpec proves identity).
    *
    * What sharding buys: each leg's pair enumeration — and each leg's
    * broadcast build side — is bounded at (n/B)² and n/B rows
    * respectively, so the scan degrades into restartable bounded jobs
    * instead of one n²-sized one. At 100 TB the legs run as separate
    * jobs over `blk=`-partitioned storage; here they union into one
    * plan over the checkpointed normalized vectors.
    */
  def exactCosinePairsBlocked(emb: DataFrame, minCosine: Double,
      nBlocks: Int): DataFrame =
    thresholdPairs(blockedLegsRaw(emb, nBlocks).reduce(_ unionByName _),
      minCosine)

  /** The block schedule as SEPARATE leg DataFrames, each already
    * thresholded — the restartable-jobs surface the blocked scaladoc
    * promises: at 100 TB the legs run as independent jobs over `blk=`-
    * partitioned storage (each bounded at (n/B)² pairs, resumable after
    * any failure), and the union of their outputs is the unsharded pair
    * set row for row (LlmSpec proves the identity). All legs share
    * ONE checkpointed normalized-vector frame, so running them
    * leg-by-leg re-pays no normalization.
    */
  def exactCosinePairsLegs(emb: DataFrame, minCosine: Double,
      nBlocks: Int): Seq[DataFrame] =
    blockedLegsRaw(emb, nBlocks).map(thresholdPairs(_, minCosine))

  private def blockedLegsRaw(emb: DataFrame, nBlocks: Int): Seq[DataFrame] = {
    require(nBlocks >= 1, s"nBlocks must be >= 1, got $nBlocks")
    val v = normalizedVecs(emb)
      .withColumn("__blk",
        pmod(crc32(col("vec_id").cast("string")), lit(nBlocks)).cast("int"))
    // each leg is a PLAIN join, deliberately: Catalyst auto-broadcasts
    // small legs (the spec fixtures) into the nested-loop shape, and
    // big legs become partition-pair cartesian scans — the same shape
    // (and per-pair cost) as a smaller unsharded scan. Both measured
    // alternatives at sf10 lose: forcing broadcast() on 40k-row legs
    // ran 2.25× the unsharded scan (the conditioned broadcast
    // nested-loop inner iteration is not whole-stage-codegen'd), and
    // letting 40k-row legs go cartesian with 1250-row partitions ran
    // 3.1× (per-task build-partition re-deserialization never
    // amortizes). The leg bound is sized so legs keep
    // amortization-sized partitions.
    for { p <- 0 until nBlocks; q <- p until nBlocks } yield {
      val a = v.filter(col("__blk") === p).as("a")
      val b = v.filter(col("__blk") === q).as("b")
      val cond =
        if (p == q) col("a.vec_id") < col("b.vec_id") else lit(true)
      a.join(b, cond).select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        dot(col("a.vec"), col("b.vec")).as("__raw"))
    }
  }

  /** Default TOTAL pair budget for the exact scan: 2³⁸ ≈ 2.7e11 pairs
    * covers the measured sf10 soak point (200k vectors ⇒ 2e10 pairs,
    * 437 s) with headroom for one more ~3×, and REFUSES the next 10×
    * (2M vectors ⇒ 2e12 pairs ≈ 12 h) — the misuse the scaladoc used to
    * guard only by prose.
    */
  val defaultMaxPairs: Long = 1L << 38

  /** Per-leg pair bound for the auto block schedule: 2³² pairs
    * (≈4.3e9), so the blocked schedule engages above ~93k vectors
    * with legs of ≤ √(2³²) = 65 536 vectors. Sized by a WARM A/B at
    * sf10 (S,B,S,B alternated in one JVM, identical
    * pair-set signatures all four runs): at 200k vectors (2e10
    * pairs) the 10-leg plain-join union runs 183.9 s warm vs 322.4 s
    * unsharded (1.75×), and at 100k vectors (5e9 pairs, B=2 → 3
    * legs) it still wins 61.2 s vs 74.6 s (1.22×) — parallel
    * occupancy, not JIT: ~50k-vector plain-join legs keep
    * amortization-sized cartesian partitions AND fill all task slots,
    * where the unsharded scan's tail partitions straggle. (Two other
    * leg spellings make blocked LOSE: forced-broadcast nested loops,
    * 2.25×, no whole-stage codegen on the conditioned inner iteration;
    * and small-partition cartesians, 3.1×, per-task build-side
    * re-deserialization. The plain-join legs have neither defect.)
    * Below the trip point a single scan stays the measured winner,
    * and each leg above it behaves exactly like a smaller unsharded
    * scan — plus every leg is independently restartable.
    */
  val defaultLegPairs: Long = 1L << 32

  /** [[exactCosinePairs]] with the exactness bound MECHANICAL instead of
    * documentary: the total pair count must clear `maxPairsBudget` (a
    * require, not a scaladoc — at 100 TB "run it blocked-exact on the
    * shard or raise τ" is now enforced), and a corpus whose pair count
    * exceeds `maxLegPairs` auto-shards into the [[exactCosinePairsBlocked]]
    * schedule with B = ⌈n/√maxLegPairs⌉ so no single leg enumerates
    * more than ~maxLegPairs pairs. Output is identical to the unsharded
    * scan on every branch.
    *
    * @param nRows precomputed corpus row count (same contract as
    *   [[signLshNearDupPairs]]: None runs one eager count job).
    */
  def exactCosinePairsBudgeted(emb: DataFrame, minCosine: Double,
      maxPairsBudget: Long = defaultMaxPairs,
      maxLegPairs: Long = defaultLegPairs,
      nRows: Option[Long] = None): DataFrame = {
    val n = nRows.getOrElse(emb.count())
    val totalPairs = BigInt(n) * BigInt((n - 1) max 0L) / 2
    require(totalPairs <= BigInt(maxPairsBudget),
      s"exactCosinePairs would enumerate ~$totalPairs pairs over $n " +
        s"vectors, exceeding maxPairsBudget=$maxPairsBudget. This scan " +
        "is exact-by-contract O(n²): raise minCosine, run it " +
        "blocked-exact per shard, or raise the budget deliberately.")
    if (totalPairs <= BigInt(maxLegPairs)) exactCosinePairs(emb, minCosine)
    else {
      val b = math.ceil(n.toDouble / math.sqrt(maxLegPairs.toDouble)).toInt
      exactCosinePairsBlocked(emb, minCosine, b max 2)
    }
  }

  /** Recall gate (the `quantile_gate`/`distinct_gate` pattern applied to
    * seeded ANN): run the approximate path AND the exact reference on
    * the same input, count in-plan how many exact rows the approximate
    * path recovered (a scalar aggregate over two tiny keyed frames —
    * never a driver-side count), and emit the EXACT result only when
    * the overlap clears `minRecall` of the exact row count. The exact
    * side is fully DuckDB-expressible, so the driver's oracle compare
    * becomes a HARD gate on the seeded path: recall drift empties the
    * output and trips the row-count check. `keys` identifies a row
    * (vec_id for top-k, vec_a+vec_b for pair sets).
    */
  private def recallGated(exact: DataFrame, approx: DataFrame,
      keys: Seq[String], minRecall: Double, order: Seq[Column]): DataFrame = {
    // the gate reads `exact` three times (emitted rows + both scalar
    // aggregates) — materialize the (tiny: top-k / threshold pair list)
    // result ONCE so the expensive plan behind it (an O(n²) pair scan
    // for the near-dup gate) does not re-execute per read
    val e = exact.localCheckpoint()
    val keyCols = keys.map(col)
    val nExact = e.agg(count(lit(1)).as("__n_exact"))
    val nOverlap = e.select(keyCols: _*)
      .join(approx.select(keyCols: _*).dropDuplicates(keys), keys, "left_semi")
      .agg(count(lit(1)).as("__n_overlap"))
    e.crossJoin(broadcast(nExact)).crossJoin(broadcast(nOverlap))
      .filter(col("__n_overlap") >= ceil(col("__n_exact") * lit(minRecall)))
      .drop("__n_exact", "__n_overlap")
      .orderBy(order: _*)
  }

  /** [[annTopK]] (MLlib seeded euclidean LSH) under the recall gate:
    * the registered output is the exact euclidean top-k, emitted only
    * if the LSH probe recovered ≥ `minRecall` of it.
    */
  def annTopKGated(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      bucketLength: Double = 2.0, numHashTables: Int = 4,
      maxDistance: Double = 10.0, minRecall: Double = 0.7): DataFrame =
    recallGated(
      euclidTopK(emb, queryId, k),
      annTopK(emb, queryId, k, bucketLength, numHashTables, maxDistance),
      Seq("vec_id"), minRecall,
      Seq(col("dist").asc, col("vec_id").asc))

  /** [[ivfTopK]] (KMeans coarse quantizer) under the recall gate
    * against the exact cosine top-k.
    */
  def ivfTopKGated(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, minRecall: Double = 0.7): DataFrame =
    recallGated(
      cosineTopK(emb, queryId, k),
      ivfTopK(emb, queryId, k, nlist, nprobe),
      Seq("vec_id"), minRecall,
      Seq(col("sim").desc, col("vec_id").asc))

  /** Deterministic bounded sample: the first `cap` vectors in
    * md5(vec_id) order (the `self_overlap_sample` idiom — stable across
    * engines, uncorrelated with insertion order). One corpus scan into
    * a TakeOrdered; everything quadratic downstream runs on ≤ cap rows.
    */
  private def hashSample(emb: DataFrame, cap: Int): DataFrame =
    emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(cap)

  /** Full-corpus ≥-minCosine pair scan under the recall gate against
    * an INDEPENDENT exact ground truth computed on a deterministic
    * `sampleCap`-vector hash-sample. The ground-truth side is bounded
    * (one corpus scan + ≤cap² pairs), so the gate itself stays linear
    * in corpus size; the operator under audit is the full pair scan.
    *
    * Why the full side is the blocked EXACT scan and not an LSH
    * candidate join — measured, not assumed (sf0.1 fixture, 2 000 unit
    * vectors, truth = 920 pairs all at cos 0.40–0.48 against an
    * isotropic bulk centered at 0):
    *  - a 14-config sweep across three hash families (1-projection
    *    euclidean tables à la MLlib BRP, AND-amplified multi-projection
    *    euclidean bands, sign-bit bands) shows EVERY config reaching
    *    the 0.8 recall gate keeps ≥48 % of ALL pairs as candidates —
    *    at a threshold inside the bulk's tail the per-projection
    *    separation (0.635 vs 0.5 bit agreement) is too weak to prune;
    *  - IVF multi-probe cell bucketing (the SemDedup shape) measures
    *    the same frontier (recall 0.83 ⇒ 42 % of pairs, nlist 32);
    *  - the previous MLlib BRP configuration (bucketLength 1.0,
    *    2 tables) only LOOKED like it separated: MLlib normalizes its
    *    projection directions, so unit-vector projections have
    *    σ ≈ d^-1/2 ≈ 0.125 and a 1.0-wide bucket put essentially the
    *    whole corpus in ONE bucket per table — a cartesian join through
    *    a single hot key (45 s at sf1, the worst shuffle shape).
    * The margin-prefiltered codegen pair scan computes the same
    * candidate set (all pairs) with no shuffle at all — one broadcast
    * nested-loop over normalized vectors (8.8 s warm at sf1, 5×
    * faster than the degenerate LSH join, no hot key). At a HIGH-cos
    * threshold (≥0.7) banding separates and [[signLshNearDupPairs]] /
    * [[semDedupDropped]] are the production candidate generators; at a
    * bulk-tail threshold the honest 100 TB posture is "this is a pair
    * ENUMERATION, run it blocked-exact on the shard or raise τ" — and
    * that posture is now MECHANICAL, not documentary: the full side
    * runs through [[exactCosinePairsBudgeted]], which require-fails
    * past `maxPairsBudget` total pairs and auto-shards into the
    * bounded block schedule past [[defaultLegPairs]] per job.
    *
    * sampleCap = 1024 covers the whole fixture at sf≤0.01 (sample ≡
    * corpus, output unchanged) and bounds the gate's pair join at any
    * scale; the exact full side makes the gate's measured recall 1.0
    * by construction, so the gate now guards refactor drift (a future
    * approximate swap-in must still clear it on real recall).
    */
  def cosineNearDupGated(emb: DataFrame,
      minCosine: Double = 0.9, minRecall: Double = 0.8,
      sampleCap: Int = 1024,
      maxPairsBudget: Long = defaultMaxPairs,
      nRows: Option[Long] = None): DataFrame =
    recallGated(
      exactCosinePairs(hashSample(emb, sampleCap), minCosine),
      exactCosinePairsBudgeted(emb, minCosine,
        maxPairsBudget = maxPairsBudget, nRows = nRows),
      Seq("vec_a", "vec_b"), minRecall,
      Seq(col("vec_a").asc, col("vec_b").asc))

  /** Persisted-IVF probe under the recall gate: write the
    * `cell=`-partitioned index, probe it (partition-pruned scan), and
    * gate the probe's top-k against the exact cosine top-k. This puts
    * the 100 TB ANN layout — index on disk, probe = pruned scan of
    * nprobe directories — under the driver's hard oracle.
    */
  def ivfProbeGated(emb: DataFrame, indexDir: String, queryId: Long = 0L,
      k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
      minRecall: Double = 0.7): DataFrame = {
    val spark = emb.sparkSession
    ivfWriteIndex(emb, indexDir, nlist)
    val qv = emb.filter(col("vec_id") === queryId)
      .select(dbl(col("embedding")).as("q"))
      .head().getSeq[Double](0).toArray // 1 bounded row: the query vector
    recallGated(
      cosineTopK(emb, queryId, k),
      ivfProbeIndex(spark, indexDir, qv, k, nprobe, excludeId = queryId),
      Seq("vec_id"), minRecall,
      Seq(col("sim").desc, col("vec_id").asc))
  }

  /** Shared sign-LSH banding: (vec_id, vec, band_idx, band_key) rows,
    * one per band per vector. `dim` must cover the embedding width —
    * ArrayDotProduct folds over the COMMON prefix, so an undersized dim
    * would silently project onto truncated vectors.
    */
  private def signBanded(emb: DataFrame, nBits: Int, bitsPerBand: Int,
      dim: Int): DataFrame = {
    require(nBits % bitsPerBand == 0, "bitsPerBand must divide nBits")
    val bands = nBits / bitsPerBand
    val projs = signProjections(nBits, dim)
    val v = dbl(col("embedding"))
    val bitCols = projs.zipWithIndex.map { case (r, i) =>
      when(dot(v, array(r.toIndexedSeq.map(lit(_)): _*)) > 0, 1)
        .otherwise(0).as(s"bit$i")
    }
    emb.select((col("vec_id") +: v.as("vec") +: bitCols): _*)
      .select(col("vec_id"), col("vec"),
        explode(array((0 until bands).map { j =>
          struct(lit(j).as("band_idx"),
            concat_ws("",
              (0 until bitsPerBand).map(q =>
                col(s"bit${j * bitsPerBand + q}").cast("string")): _*)
              .as("band_key"))
        }: _*)).as("band"))
      .select(col("vec_id"), col("vec"),
        col("band.band_idx"), col("band.band_key"))
  }

  /** The banding step table — THE single source of truth: each entry is
    * (maxRows, nBits, bitsPerBand); the first row whose maxRows covers
    * the corpus wins. The DuckDB oracle's CASE over count(*)
    * ([[graft.queries.LlmQueries]]) is GENERATED from this sequence, so
    * a threshold edit here moves both engines together — a hand-copied
    * SQL constant desyncs query and oracle at exactly one branch
    * boundary, which the sf0.01 gate cannot catch.
    */
  val signLshSteps: Seq[(Long, Int, Int)] =
    Seq((16384L, 48, 8), (262144L, 96, 12), (Long.MaxValue, 160, 16))

  /** Corpus-size-adaptive (nBits, bitsPerBand) for the sign-LSH pair
    * join. Candidate volume is ~n²·b/2^r — with FIXED banding it grows
    * quadratically in the corpus (measured: the registered query at
    * r=8 took 3.8 s on 20k vectors but 1491 s on 200k — per-bucket
    * density is the whole game). LSH theory tunes (r, b) jointly to n:
    * each step adds 4 band bits (16× more selective buckets) AND more
    * bands so high-similarity recall degrades gently instead of
    * collapsing — at cos 0.90–0.92, MEASURED on planted near-dup
    * families (SignLshRecallProbe in the test tree, 300k-vector run for
    * the top branch; band math predicted 87/74/66): 88% (48/8×6),
    * 78% (96/12×8), 65% (160/16×10) — floors 0.85/0.72/0.60 are pinned
    * by SignLshRecallSpec. Thresholds are POWERS OF TWO the oracle mirrors
    * with the same CASE over count(*), so query↔oracle equality holds
    * at every scale, not just at the gate SFs (verified at sf1, where
    * the 20k-vector corpus takes the middle branch).
    */
  def signLshParams(n: Long): (Int, Int) =
    signLshSteps.collectFirst { case (m, b, r) if n <= m => (b, r) }.get

  /** Embedding near-dup pairs via SIGN-projection LSH: bit i =
    * (v · r_i > 0) for the deterministic ±1 projections above; bands of
    * `bitsPerBand` bits equi-join candidates (bucketed, never
    * all-pairs), then exact fused cosine filters at `minCosine`.
    * Detection probability for angle θ: p_bit = 1 − θ/π, band p_bit^r,
    * any-of-b bands 1−(1−p_bit^r)^b — ~87% per true pair at cos 0.9
    * with 6×8 bits, but only ~15% at cos 0.45 (sign bits barely beat
    * coin flips there; shorter bands would recover recall only by
    * surrendering selectivity). Use THIS operator for the
    * high-similarity dedup regime; [[cosineNearDupGated]] (the blocked
    * exact scan) covers moderate thresholds. What this one
    * uniquely offers: full DuckDB verifiability — the oracle inlines
    * the same projections — unlike the seeded
    * BucketedRandomProjectionLSH path.
    *
    * @param nRows precomputed corpus row count (an index build reads
    *   this from table metadata/statistics). When None, the builder
    *   runs ONE eager 1-row count job at DataFrame-construction time —
    *   note that merely building the plan (e.g. for explain/plan-shape
    *   snapshots) then executes a Spark job, and a derived (non-scan)
    *   input is computed twice. Pass the count when you have it.
    */
  def signLshNearDupPairs(emb: DataFrame, minCosine: Double = 0.4,
      dim: Int = 64, nRows: Option[Long] = None): DataFrame = {
    val (nBits, bitsPerBand) = signLshParams(nRows.getOrElse(emb.count()))
    signLshNearDupPairsAt(emb, minCosine, dim, nBits, bitsPerBand)
  }

  /** [[signLshNearDupPairs]] at EXPLICIT banding parameters — the
    * measurement surface for the per-branch recall floors
    * (the test tree's SignLshRecallProbe and SignLshRecallSpec): recall of
    * a true pair at angle θ is 1−(1−p^r)^b with p = 1−θ/π, a function
    * of (nBits, bitsPerBand) alone, so each [[signLshSteps]] branch can
    * be measured on a planted family without building a corpus at that
    * branch's row-count threshold.
    */
  def signLshNearDupPairsAt(emb: DataFrame, minCosine: Double,
      dim: Int, nBits: Int, bitsPerBand: Int): DataFrame = {
    val banded = signBanded(emb, nBits, bitsPerBand, dim)
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        bround(cosine(col("a.vec"), col("b.vec")), 6).as("cos"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos") >= minCosine)
      .orderBy("vec_a", "vec_b")
  }

  /** ANN top-k via the same sign-projection bands: candidates are
    * vectors sharing at least one band with the QUERY vector (bucket
    * probe, not a pair join — the probe side is one row), ranked by
    * exact fused cosine. Deterministic projections ⇒ the only
    * oracle-checkable ANN path; recall tracks the per-pair band math in
    * [[signLshNearDupPairs]]. At scale the banded corpus is a
    * precomputed index (write once, bucket-partitioned); the probe
    * reads only matching buckets.
    *
    * Bands are SHORTER here than in the pair join (4 bits, not 8):
    * a probe's candidate set is O(corpus fraction), not O(pairs), so
    * recall is worth buying — 12×4 bits give ~93% per-neighbor recall
    * at cos 0.5 while still skipping ~half the corpus; 8-bit bands
    * would miss most moderate-similarity neighbors.
    */
  def annSignTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      nBits: Int = 48, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val banded = signBanded(emb, nBits, bitsPerBand, dim)
    val q = broadcast(banded.filter(col("vec_id") === queryId)
      .select(col("band_idx").as("q_band_idx"),
        col("band_key").as("q_band_key"), col("vec").as("qvec")))
    banded.filter(col("vec_id") =!= queryId)
      .join(q, col("band_idx") === col("q_band_idx") &&
        col("band_key") === col("q_band_key"))
      .select(col("vec_id"),
        bround(cosine(col("vec"), col("qvec")), 6).as("sim"))
      .dropDuplicates("vec_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** (maxRows, cells) step table — single source of truth shared with
    * the oracle's generated CASE, same contract as [[signLshSteps]].
    */
  val semDedupCellSteps: Seq[(Long, Int)] =
    Seq((16384L, 16), (65536L, 64), (262144L, 256), (Long.MaxValue, 1024))

  /** Corpus-size-adaptive quantizer cell count for [[semDedupDropped]]:
    * per-cell pair volume is ~(n/k)²·k = n²/k, so a FIXED k grows
    * quadratically with the corpus (measured: the registered query at
    * k=16 took 3.4 s on 20k vectors, 521 s on 200k). Cells step with
    * count(*) at the same power-of-two style thresholds the sign-LSH
    * banding uses, and the oracle computes the same CASE — SemDedup's
    * own knob is exactly this cluster count (Abbas et al. 2023 scale k
    * with the corpus for the same reason). Gate SFs (≤16384 vectors)
    * keep k=16, so small-scale results are unchanged.
    */
  def semDedupCells(n: Long): Int =
    semDedupCellSteps.collectFirst { case (m, k) if n <= m => k }.get

  /** [[semDedupDropped]] with the cell count chosen from the corpus
    * size. `nRows` carries the same precomputed-count contract as
    * [[signLshNearDupPairs]]: None runs one eager count job at
    * construction time.
    */
  def semDedupDroppedAuto(emb: DataFrame, minCosine: Double = 0.35,
      nRows: Option[Long] = None): DataFrame =
    semDedupDropped(emb, semDedupCells(nRows.getOrElse(emb.count())),
      minCosine)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication INSIDE coarse-quantizer cells — assign every vector
    * to its nearest cell ([[flatAssigned]], the same deterministic
    * quantizer the IVF index uses), then compare pairs only within a
    * cell and drop every member that has a lower-id cell-mate with
    * cosine ≥ `minCosine`. Emits the dropped members as
    * (cell, vec_id, max_sim) — the keep-set is the complement.
    *
    * Scale shape: the candidate set is a cell-bucketed equi-join (the
    * paper's own design) — pairwise cost is quadratic only WITHIN a
    * cell, so production `nlist` grows with the corpus (cells of a few
    * thousand vectors, i.e. nlist ≈ N/4k); the cross-cell pair space is
    * never enumerated. Normalization runs once per vector (n rows, not
    * n² pairs) and is checkpointed so the assignment window isn't
    * re-executed on both sides of the self-join.
    */
  def semDedupDropped(emb: DataFrame, nlist: Int = 16,
      minCosine: Double = 0.35): DataFrame = {
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
    val n = flatAssigned(v, flatSeeds(v, nlist))
      .withColumn("__n", sqrt(dot(col("vec"), col("vec"))))
      .filter(col("__n") > 0)
      .select(col("cell"), col("vec_id"),
        transform(col("vec"), _ / col("__n")).as("vec"))
      .localCheckpoint()
    n.as("a").join(n.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.cell").as("cell"), col("b.vec_id").as("vec_id"),
        dot(col("a.vec"), col("b.vec")).as("__raw"))
      // raw-dot pre-filter with a half-ulp margin, same reasoning as
      // [[exactCosinePairs]]: bround only pays on surviving pairs
      .filter(col("__raw") >= minCosine - 1e-6)
      .select(col("cell"), col("vec_id"), bround(col("__raw"), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .groupBy("cell", "vec_id")
      .agg(max("cos").as("max_sim"))
      .orderBy("cell", "vec_id")
  }

  /** Embedding-space decontamination: drop every corpus vector whose
    * cosine against ANY held-out vector clears `minCosine` — the
    * semantic analogue of [[Dedup.decontaminate]]'s exact-fingerprint
    * anti-join (benchmark rephrasings that n-gram overlap misses).
    * The held-out set here is a deterministic md5-sample so the whole
    * operator is oracle-checkable; in production it is the actual eval
    * set. Emits the CONTAMINATED ids with their max similarity.
    *
    * Scale shape: the held-out side is small by construction (an eval
    * suite, not a corpus), so it broadcasts and the corpus never
    * shuffles — one map-side pass computes each vector's max cosine
    * over the broadcast set. Normalize-once keeps the inner loop a
    * single fused dot per (vector, held-out) pair.
    */
  def decontaminateByEmbedding(emb: DataFrame, nHeld: Int = 20,
      minCosine: Double = 0.35): DataFrame = {
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
      .withColumn("__n", sqrt(dot(col("vec"), col("vec"))))
      .filter(col("__n") > 0)
      .select(col("vec_id"), transform(col("vec"), _ / col("__n")).as("vec"))
    val held = v
      .orderBy(md5(concat(lit("held:"), col("vec_id").cast("string"))
        .cast("binary")), col("vec_id"))
      .limit(nHeld)
      .select(col("vec_id").as("held_id"), col("vec").as("hvec"))
    v.join(broadcast(held.select("held_id")),
        col("vec_id") === col("held_id"), "left_anti")
      .crossJoin(broadcast(held))
      .groupBy("vec_id")
      .agg(max(dot(col("vec"), col("hvec"))).as("__raw"))
      // max before round is safe: bround is monotone, so
      // bround(max(x)) == max(bround(x))
      .select(col("vec_id"), bround(col("__raw"), 6).as("max_sim"))
      .filter(col("max_sim") >= minCosine)
      .orderBy("vec_id")
  }

  /** Product-quantization ANN with asymmetric distance computation and
    * exact re-ranking (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split each vector into `m` subvectors,
    * quantize every subvector to its nearest of `ksub` codebook entries
    * (codebook = md5-sampled corpus vectors, sliced — deterministic, so
    * the WHOLE index is rebuildable relationally and value-checkable by
    * the DuckDB oracle), approximate each corpus vector's distance to
    * the query as the sum of its `m` code-to-query subdistances read
    * from a per-query distance table, then re-rank the ADC shortlist
    * (`rerank` candidates) by EXACT distance — the standard
    * two-stage PQ serving shape. Measured on the synthetic corpus
    * (uniform vectors — PQ's worst case; real embeddings cluster):
    * shortlist 100 re-ranked recovers 10/10 of the exact euclidean
    * top-10 at sf0.001/0.01/0.1.
    *
    * This is the 100 TB memory story for embeddings: the scanned corpus
    * is `m` codes per vector (16 × 6 bits here ≈ 12 B vs 256 B of
    * floats, 21×) plus an m×ksub broadcast distance table; full vectors
    * are touched only for the `rerank`-sized shortlist.
    *
    * Plan shape: codebook and distance table are tiny broadcasts;
    * encoding is ONE hash aggregate keyed (vec_id, sub) with a
    * `min(struct(d2, seed_id))` argmin — map-side combinable, no window
    * shuffle; the ADC scan is a broadcast join + one more map-side
    * combinable sum; the re-rank is a `rerank`-row semi-join back to
    * the vectors. Distances are rounded to 6 dp at every compare
    * (sum-order ULP, argmin tiebreak to the smaller seed id) — the same
    * portability contract as [[ivfFlatTopK]].
    */
  def pqAdcTopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      m: Int = 16, ksub: Int = 64, dim: Int = 64,
      rerank: Int = 100): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    // (sub, start) pairs as an inline literal array — 1-based slice starts
    val subsCol = array((0 until m).map(i =>
      struct(lit(i).as("sub"), lit(i * subLen + 1).as("start"))): _*)
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("vec"))
    val seeds = v
      .orderBy(md5(concat(lit("pq:"), col("vec_id").cast("string"))
        .cast("binary")), col("vec_id"))
      .limit(ksub)
      .select(col("vec_id").as("seed_id"), col("vec").as("seed"))
    val cb = broadcast(seeds
      .select(col("seed_id"), col("seed"), explode(subsCol).as("s"))
      .select(col("seed_id"), col("s.sub").as("sub"),
        slice(col("seed"), col("s.start"), lit(subLen)).as("cvec")))
    val parts = v
      .select(col("vec_id"), explode(subsCol).as("s"), col("vec"))
      .select(col("vec_id"), col("s.sub").as("sub"),
        slice(col("vec"), col("s.start"), lit(subLen)).as("pvec"))
    // the assignment join evaluates |corpus|·ksub distances — the hot
    // loop. ‖p‖² + ‖c‖² − 2·p·c with norms precomputed per side turns
    // the per-pair work into ONE native codegen'd dot (ArrayDotProduct)
    // instead of an interpreted (x−y)² HOF fold; the 6-dp round that
    // every distance already carries absorbs the chain difference (the
    // oracle mirrors the same three-sum spelling).
    val pN = parts.withColumn("p2", dot(col("pvec"), col("pvec")))
    val cbN = broadcast(cb.withColumn("c2", dot(col("cvec"), col("cvec"))))
    def d2n(p2: Column, c2: Column, a: Column, b: Column): Column =
      bround(p2 + c2 - lit(2.0) * dot(a, b), 6)
    val codes = pN.join(cbN, "sub")
      .select(col("vec_id"), col("sub"),
        struct(d2n(col("p2"), col("c2"), col("pvec"), col("cvec")).as("d"),
          col("seed_id").as("c")).as("dc"))
      .groupBy("vec_id", "sub")
      .agg(min("dc").getField("c").as("code"))
    val dtab = broadcast(pN.filter(col("vec_id") === queryId)
      .select(col("sub").as("qsub"), col("pvec").as("qp"), col("p2").as("q2"))
      .join(cbN, col("qsub") === col("sub"))
      .select(col("sub"), col("seed_id").as("code"),
        d2n(col("q2"), col("c2"), col("qp"), col("cvec")).as("dq")))
    val shortlist = codes.filter(col("vec_id") =!= queryId)
      .join(dtab, Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(bround(sum("dq"), 6).as("approx_d2"))
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
      .limit(rerank)
    val qvec = v.filter(col("vec_id") === queryId)
      .select(col("vec").as("qvec"))
    v.join(shortlist.select("vec_id"), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(qvec))
      .select(col("vec_id"), d2(col("vec"), col("qvec")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc)
      .limit(k)
  }

  /** SQ8 (int8 scalar quantization) ANN: score the whole corpus with
    * INTEGER dot products over unit-normalized int8 codes (the same
    * floor-quantization as `embed_quantize` — 4 bytes/dim → 1), take a
    * shortlist, re-rank it with exact float cosine. The ScaNN-style
    * bandwidth play: the scan touches 1/4 the bytes and does integer
    * MACs; floats touch only `shortlist` rows.
    *
    * Unlike the seeded ANN paths this needs NO recall gate — the codes
    * are deterministic and integer dots are exact in any engine, so the
    * shortlist (and therefore the output) is bit-reproducible by the
    * DuckDB oracle end to end.
    */
  def sq8TopK(emb: DataFrame, queryId: Long = 0L, k: Int = 10,
      shortlist: Int = 100): DataFrame = {
    // same sequential-fold norm + floor(x/norm*127 + 0.5) as
    // embed_quantize, so the codes are the ones that query verifies
    val codes = emb
      .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .filter(col("norm") > 0)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") / col("norm") * lit(127.0) + lit(0.5))
            .cast("long")).as("q"))
    val qc = codes.filter(col("vec_id") === queryId)
      .select(col("q").as("qq"))
    val short = codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qc))
      .select(col("vec_id"), col("embedding"),
        aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b), lit(0L),
          (s, x) => s + x).as("idot"))
      .orderBy(col("idot").desc, col("vec_id").asc)
      .limit(shortlist)
    val qvec = emb.filter(col("vec_id") === queryId)
      .select(dbl(col("embedding")).as("qvec"))
    short.crossJoin(broadcast(qvec))
      .select(col("vec_id"), col("idot"),
        bround(cosine(dbl(col("embedding")), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Grid-cell DBSCAN over the first two embedding dimensions — the
    * density-clustering shape that survives scale: points bin into
    * h-sized cells (one aggregate), only cells with ≥ `minPts` points
    * are core, core cells link to their 8 grid neighbors (an EQUI-join
    * on the shifted cell key — the offset fan-out replaces the ε-range
    * all-pairs scan, the same bucketed-not-all-pairs move as minhash
    * banding), and clusters are `rounds` bounded min-label propagation
    * passes over that cell graph ([[graft.queries.Insights]]'
    * connected_components contract: deterministic whether or not
    * propagation has converged, so the oracle unrolls the same
    * rounds). Points in sub-threshold cells report as noise
    * (label −1) — grid-DBSCAN's border approximation, stated rather
    * than hidden. State is CELL-sized everywhere after the first
    * aggregate; the per-round joins key on cell ids.
    */
  def dbscanGrid(emb: DataFrame, h: Double = 0.08, minPts: Int = 5,
      rounds: Int = 3): DataFrame = {
    val cells = emb.filter(col("vec_id").isNotNull)
      .select(
        floor(col("embedding").getItem(0).cast("double") / lit(h)).as("cx"),
        floor(col("embedding").getItem(1).cast("double") / lit(h)).as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumed by core cells AND the noise readout
    // packed cell id cx·2³¹ + cy: injective for |cy| < 2³⁰ (at h=0.08
    // that is |embedding[1]| < ~8.6e7 — far beyond any real embedding;
    // the old ×1000 packing silently aliased cells outside ±100·h) and
    // overflow-free for |cx| < 2³² — same arithmetic in the oracle
    val core = cells.filter(col("n") >= minPts)
      .select(col("cx"), col("cy"), col("n"),
        (col("cx") * lit(2147483648L) + col("cy")).as("id"))
      .localCheckpoint() // adjacency probes it twice + label seed
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val adj = core
      .select(col("id").as("src"), col("cx"), col("cy"),
        explode(array(offsets: _*)).as("o"))
      .select(col("src"), (col("cx") + col("o.dx")).as("tx"),
        (col("cy") + col("o.dy")).as("ty"))
      .join(core.select(col("cx").as("tx"), col("cy").as("ty"),
        col("id").as("dst")), Seq("tx", "ty"))
      .select("src", "dst")
    val lbl0 = core.select(col("id").as("node"), col("id").as("lbl"))
    val lbl = graft.ops.IterateUntilFixed.fixed(
      Map("lbl" -> lbl0), rounds) { (st, _) =>
      Map("lbl" -> st("lbl").unionByName(
          adj.join(st("lbl").select(col("node").as("dst"), col("lbl")), "dst")
            .select(col("src").as("node"), col("lbl")))
        .groupBy("node").agg(min("lbl").as("lbl")))
    }("lbl")
    val clusters = core.join(lbl, core("id") === lbl("node"))
      .groupBy("lbl").agg(count(lit(1)).as("n_cells"),
        sum("n").as("n_points"))
      .select(col("lbl").as("label"), col("n_cells"), col("n_points"))
    val noise = cells.filter(col("n") < minPts)
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum("n"), lit(0L)).as("n_points"))
      .select(lit(-1L).as("label"), col("n_cells"), col("n_points"))
    clusters.unionByName(noise)
      .orderBy(col("n_points").desc, col("label"))
  }
}
