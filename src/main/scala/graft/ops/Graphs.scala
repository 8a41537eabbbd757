package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The graphs the lineitem graph queries run on, and their node ids.
  *
  * Node ids are longs in one encoding: supplier k is 2k and part k is
  * 2k+1. A supplier and a part with the same key never collide, and
  * within one side ids order as their keys do, so a min, a `<` or an
  * ORDER BY over ids agrees with the same over keys. [[key]] recovers
  * the key and [[label]] spells `s<k>`/`p<k>`; queries call them only
  * in a readout or where an oracle compares that spelling.
  *
  * Both edge lists are built from a `lineitem` frame, so this object is
  * the only graph code that names its key columns:
  *   - [[supplierPart]]: the distinct bipartite edges `(src, dst)`, src a
  *     supplier id and dst a part id ([[weightedSupplierPart]] adds a
  *     per-edge minimum weight);
  *   - [[coPurchase]]: canonical part pairs `(p1, p2)`, `p1 < p2`, that
  *     share at least `minSupport` orders, over the distinct
  *     (order, part) base [[orderParts]].
  */
object Graphs {

  def supplier(k: Column): Column = k.cast("long") * 2L

  def part(k: Column): Column = k.cast("long") * 2L + 1L

  def isSupplier(id: Column): Column = id.bitwiseAND(1L) === 0L

  /** The supplier or part key of an id (an arithmetic shift, so it is
    * exact for either side and any sign).
    */
  def key(id: Column): Column = shiftright(id, 1)

  def label(id: Column): Column =
    concat(when(isSupplier(id), lit("s")).otherwise(lit("p")),
      key(id).cast("string"))

  def supplierPart(li: DataFrame): DataFrame =
    li.select(ends: _*).distinct()

  /** [[supplierPart]] with `w`, the least `weight` over each edge's rows. */
  def weightedSupplierPart(li: DataFrame, weight: Column): DataFrame =
    li.select(ends :+ weight.as("w"): _*)
      .groupBy("src", "dst").agg(min("w").as("w"))

  private def ends: Seq[Column] = Seq(
    supplier(col("l_suppkey")).as("src"), part(col("l_partkey")).as("dst"))

  /** Distinct `(o, p)`: order key and part id. */
  def orderParts(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("o"), part(col("l_partkey")).as("p"))
      .distinct()

  /** Materialized: each caller reads it more than once (both sides of a
    * closure join, a degree table, a symmetric view), and the pair
    * self-join it replaces is the costliest stage of every caller.
    */
  def coPurchase(li: DataFrame, minSupport: Int): DataFrame = {
    val op = orderParts(li)
    op.select(col("o"), col("p").as("p1"))
      .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport).select("p1", "p2")
      .localCheckpoint()
  }

  /** `e` plus `e` with columns `a` and `b` swapped: each edge in both
    * directions. Other columns ride along unchanged.
    */
  def symmetric(e: DataFrame, a: String = "src", b: String = "dst")
      : DataFrame =
    e.unionByName(e.select(e.columns.toIndexedSeq.map {
      case `a` => col(b).as(a)
      case `b` => col(a).as(b)
      case c => col(c)
    }: _*))
}
