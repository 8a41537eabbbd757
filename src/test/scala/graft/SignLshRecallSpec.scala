package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Pins the MEASURED per-branch recall of the adaptive sign-LSH banding
  * ([[Similarity.signLshSteps]]) against documented floors. Everything
  * here is deterministic — md5-derived projections, hash-seeded planted
  * vectors, exact rotations to the target cosine — so the measured
  * recall is a constant of the code, and a banding-parameter or
  * projection regression moves it. The floors sit safely under the
  * measured values (0.896 / 0.760 / 0.642 at this fixture;
  * 0.882 / 0.784 / 0.651 at the 10k/100k/300k probe scales — see
  * PLANS.md round 15) but above any broken configuration: e.g. the
  * pre-fix single-step 48/8 config read at 160/16 selectivity would
  * score ~0, and a lost band would drop each branch ~10–15 points.
  */
class SignLshRecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  // floors per (nBits, bitsPerBand) branch at cos in [0.901, 0.92)
  private val floors = Map((48, 8) -> 0.85, (96, 12) -> 0.72,
    (160, 16) -> 0.60)

  test("each adaptive banding branch clears its documented recall floor " +
      "on a planted near-dup family") {
    val nBulk = 1500L
    val nPairs = 500
    val emb = SignLshRecallProbe.plantedCorpus(spark, nBulk, nPairs)
      .localCheckpoint()
    Similarity.signLshSteps.foreach { case (_, nBits, r) =>
      val (found, truth, _) =
        SignLshRecallProbe.measure(emb, nBulk, nPairs, 0.9, nBits, r)
      assert(truth === nPairs.toLong,
        s"every planted pair should clear the 0.9 threshold, got $truth")
      val recall = found.toDouble / truth
      val floor = floors((nBits, r))
      assert(recall >= floor,
        f"branch $nBits/$r recall $recall%.4f below floor $floor%.2f")
    }
  }

  test("the step table the spec measures is the one production selects") {
    // corpus sizes at/above each activation threshold select the branch
    // the floors were measured for — a desync between steps and floors
    // fails here, not silently
    assert(Similarity.signLshParams(10000L) === (48, 8))
    assert(Similarity.signLshParams(16384L) === (48, 8))
    assert(Similarity.signLshParams(16385L) === (96, 12))
    assert(Similarity.signLshParams(262144L) === (96, 12))
    assert(Similarity.signLshParams(262145L) === (160, 16))
    assert(floors.keySet ===
      Similarity.signLshSteps.map { case (_, b, r) => (b, r) }.toSet)
  }
}
