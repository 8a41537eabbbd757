package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys.
  *
  * AQE's skew-join splitting handles join-side skew at runtime; for
  * AGGREGATIONS over pathologically hot keys (one key = 30% of 100 TB),
  * pre-shuffle salting keeps every reducer bounded: phase 1 aggregates
  * on (key, salt) — map-side partials spread the hot key over `salts`
  * reducers — phase 2 re-aggregates partials on the key alone. Works
  * for any algebraic aggregate (sum/count/min/max); the phase-2 combine
  * of each is declared by the caller.
  */
object Skew {

  /** Deterministic per-row salt in [0, salts): derived from a hash of
    * the whole row, so it needs no id column and stays stable across
    * retries (rand() would break speculative-execution determinism).
    */
  private def salt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)),
      lit(salts.toLong))

  /** Salted `groupBy(key).agg(sum(value))`. */
  def saltedSum(df: DataFrame, key: String, value: String,
      salts: Int = 16): DataFrame =
    df.withColumn("__salt", salt(df, salts))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(value)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$value"))

  /** Skew-mitigated equi-join for a hot-keyed big side against a small
    * (but not broadcast-small) dimension: the big side gets a
    * deterministic salt in [0, salts), the small side is replicated once
    * per salt value, and the join key becomes (key, salt) — a hot key's
    * rows spread over `salts` reducers instead of melting one. Each
    * (big row, small row) pair matches on exactly one salt value, so the
    * result is row-for-row the plain inner join. This is the manual form
    * of what AQE's skew-join split does at runtime; it exists for plans
    * AQE can't rescue (a single key holding >1/salts of the table still
    * skews any split that must keep the key whole).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int = 16): DataFrame = {
    val bigS = big.withColumn("__salt", salt(big, salts))
    val smallS = small.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }
}
