package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Measure (don't derive) the sign-LSH recall floor of EACH
  * [[Similarity.signLshSteps]] banding branch on a planted near-dup
  * family — the adaptive fix quoted cos-0.9 recall 87%→74%→66% from
  * band math; this probe produces the committed per-branch measurement
  * (PLANS.md) and the numbers SignLshRecallSpec pins as floors.
  *
  * Protocol: a deterministic corpus of `n` unit vectors (hash-seeded
  * per id, so generation is reproducible AND independent of partitioning)
  * contains `nPairs` planted near-dup pairs — vector `nBulk+i` is built
  * from vector `i` by the exact rotation v₂ = cosθ·v + sinθ·u with u a
  * seeded unit vector orthogonalized against v, so the pair's true
  * cosine is the chosen target (spread over [0.901, 0.92) — the branch
  * floor is an at-threshold number, not an easy high-cosine average).
  * Truth = the planted pairs whose float-rounded exact cosine clears
  * minCosine (verified pair-by-pair — n rows, the blocked-exact check);
  * recall = fraction of truth recovered by the banded candidate join at
  * that branch's (nBits, bitsPerBand). The 300k-row run exercises the
  * 160/16 branch ABOVE its 262144-row activation threshold with the
  * ADAPTIVE operator, so the measured number is the one production
  * would see.
  */
object SignLshRecallProbe {

  /** Unit vector from a seeded RNG — pure function of (salt, id). */
  private def unitVec(salt: Long, id: Long, dim: Int): Array[Double] = {
    val rng = new java.util.Random(salt * 1000003L + id * 2654435761L)
    val v = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Deterministic planted corpus: ids [0, nBulk) are independent unit
    * vectors; id nBulk+i (i < nPairs) is id i rotated to an exact
    * target cosine 0.901 + 0.019·(i mod 100)/100.
    */
  def plantedCorpus(spark: SparkSession, nBulk: Long, nPairs: Int,
      dim: Int = 64): DataFrame = {
    import spark.implicits._
    require(nPairs <= nBulk, "need a base vector per planted pair")
    spark.range(nBulk + nPairs).as[Long].map { id =>
      val vec =
        if (id < nBulk) unitVec(1L, id, dim)
        else {
          val i = id - nBulk
          val v = unitVec(1L, i, dim)
          val g = unitVec(2L, i, dim)
          // orthogonalize g against v, then rotate by acos(target)
          val gv = v.zip(g).map { case (a, b) => a * b }.sum
          val o = g.zip(v).map { case (b, a) => b - gv * a }
          val on = math.sqrt(o.map(x => x * x).sum)
          val u = o.map(_ / on)
          val c = 0.901 + 0.019 * (i % 100) / 100.0
          val s = math.sqrt(1.0 - c * c)
          v.zip(u).map { case (a, b) => c * a + s * b }
        }
      (id, vec.map(_.toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** (recall numerator, truth size, seconds) of the pair join at the
    * given banding over the planted corpus.
    */
  def measure(emb: DataFrame, nBulk: Long, nPairs: Int,
      minCosine: Double, nBits: Int, bitsPerBand: Int): (Long, Long, Double) = {
    val spark = emb.sparkSession
    val planted = spark.range(nPairs)
      .select(col("id").as("vec_a"), (col("id") + nBulk).as("vec_b"))
    // blocked-exact truth: one equi-join per planted pair, exact fused
    // cosine, same 6-dp round as the operator
    val truth = planted
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        bround(Similarity.cosine(
          transform(col("ea"), _.cast("double")),
          transform(col("eb"), _.cast("double"))), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .localCheckpoint()
    val nTruth = truth.count()
    val t0 = System.nanoTime()
    val found = Similarity
      .signLshNearDupPairsAt(emb, minCosine, 64, nBits, bitsPerBand)
      .join(truth.select("vec_a", "vec_b"), Seq("vec_a", "vec_b"), "left_semi")
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    (found, nTruth, sec)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // each branch measured at a corpus size that ACTIVATES it in the
    // adaptive operator (the 300k run is the first measurement of the
    // 160/16 branch above its 262144-row threshold)
    val configs = Seq(
      (10000L, 1000, 48, 8),
      (100000L, 2000, 96, 12),
      (300000L, 2000, 160, 16))
    configs.foreach { case (n, nPairs, nBits, r) =>
      val nBulk = n - nPairs
      val emb = plantedCorpus(spark, nBulk, nPairs).localCheckpoint()
      val (adaptB, adaptR) = Similarity.signLshParams(n)
      require(adaptB == nBits && adaptR == r,
        s"corpus of $n rows does not activate branch ($nBits,$r)")
      val (found, truth, sec) = measure(emb, nBulk, nPairs, 0.9, nBits, r)
      println(f"SIGNLSH_RECALL n=$n%d branch=$nBits%d/$r%d " +
        f"recall=$found%d/$truth%d (${found.toDouble / truth}%.4f) " +
        f"join_sec=$sec%.1f")
      emb.unpersist()
    }
    spark.stop()
  }
}
