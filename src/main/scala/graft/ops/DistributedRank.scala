package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global row_number / ntile without a single-partition sort.
  *
  * `Window.orderBy(value)` moves EVERY row through one task — the
  * classic scale killer. spearman_corr/window_distribution rank a
  * bounded grid inline; this helper is the reusable ROW-level variant
  * for per-customer / per-order rankings. The decomposition:
  *
  *   rn(row) = #strictly-smaller values            (two-level bucketed
  *             cumulative: a monotone coarse bucket floor(v/width)
  *             splits the distinct-value grid, so the only
  *             unpartitioned window runs over the BUCKET LIST —
  *             bounded by value-range/width — and the within-bucket
  *             cumulative runs per bucket)
  *           + tie rank within the value            (window keyed by
  *             the value itself — grid-many small partitions)
  *
  * Exactly row_number() over (value ASC, tie ASC): ranks are exact
  * integers, so call sites keep their oracles unchanged. For DESC
  * order pass the negated value (floor stays monotone). `value` must
  * be non-null numeric; `tie` must be unique within equal values.
  */
object DistributedRank {

  private val reserved =
    Seq("__drv", "__drbk", "__drt", "__drbt", "__droff", "__drvoff",
      "__drsm", "__drtie")

  /** `df` plus `rnCol` = global 1-based row number over
    * (value ASC, tie ASC).
    */
  def withRowNumber(df: DataFrame, value: Column, tie: Column,
      rnCol: String, width: Double = 1024.0): DataFrame = {
    val clashes = df.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"DistributedRank reserves ${clashes.mkString(", ")}")
    val d = df.withColumn("__drv", value)
      .withColumn("__drbk", floor(col("__drv") / lit(width)))
    // the grid feeds both cumulative branches — |distinct values| rows
    val grid = d.groupBy("__drbk", "__drv")
      .agg(count(lit(1)).as("__drt")).localCheckpoint()
    val bcum = grid.groupBy("__drbk").agg(sum("__drt").as("__drbt"))
      .withColumn("__droff", coalesce(sum("__drbt").over(
        Window.orderBy("__drbk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__drbt")
    val wv = Window.partitionBy("__drbk").orderBy("__drv")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = grid
      .withColumn("__drvoff", coalesce(sum("__drt").over(wv), lit(0L)))
      .join(broadcast(bcum), Seq("__drbk"))
      .select(col("__drv"),
        (col("__droff") + col("__drvoff")).as("__drsm"))
    d.withColumn("__drtie",
        row_number().over(Window.partitionBy("__drv").orderBy(tie))
          .cast("long"))
      .join(offs, Seq("__drv"))
      .withColumn(rnCol, col("__drsm") + col("__drtie"))
      .drop(reserved.filterNot(_ == rnCol): _*)
  }

  private val cumReserved = Seq("__dcv", "__dcbk")

  /** GRID-level bucketed cumulative: for each input row (one row per
    * (partition, value) — aggregate first), adds `cum_<w>` = the sum
    * of weight column `w` over rows of the same partition with
    * STRICTLY SMALLER value. The at-scale CDF idiom (ks_test /
    * mannwhitney_u / quantile_align): the only per-partition
    * unpartitioned-ish window runs over the BUCKET LIST (bounded by
    * value-range/width), the within-bucket running sum is keyed by
    * (partition, bucket) — no task ever sorts a whole partition's
    * grid even when values are near-unique doubles. Add the row's own
    * weight for an inclusive CDF. `value` non-null numeric.
    */
  def withCumBefore(grid: DataFrame, partCols: Seq[String],
      value: Column, weights: Seq[String],
      width: Double = 1024.0): DataFrame = {
    val clashes = grid.columns.filter(c =>
      cumReserved.contains(c) || weights.exists(w =>
        c == s"__dcb_$w" || c == s"__dco_$w" || c == s"__dcw_$w" ||
          c == s"cum_$w"))
    require(clashes.isEmpty,
      s"withCumBefore reserves ${clashes.mkString(", ")}")
    val p = partCols.map(col)
    val d = grid.withColumn("__dcv", value)
      .withColumn("__dcbk", floor(col("__dcv") / lit(width)))
    val bAgg = d.groupBy((p :+ col("__dcbk")): _*)
      .agg(sum(weights.head).as(s"__dcb_${weights.head}"),
        weights.tail.map(w => sum(w).as(s"__dcb_$w")): _*)
    val bw = Window.partitionBy(p: _*).orderBy("__dcbk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bcum = weights.foldLeft(bAgg)((df, w) =>
        df.withColumn(s"__dco_$w",
          coalesce(sum(s"__dcb_$w").over(bw), lit(0L))))
      .select((p :+ col("__dcbk")) ++
        weights.map(w => col(s"__dco_$w")): _*)
    val vw = Window.partitionBy((p :+ col("__dcbk")): _*)
      .orderBy("__dcv").rowsBetween(Window.unboundedPreceding, -1)
    val out = weights.foldLeft(d)((df, w) =>
        df.withColumn(s"__dcw_$w", coalesce(sum(w).over(vw), lit(0L))))
      .join(broadcast(bcum), partCols :+ "__dcbk")
    weights.foldLeft(out)((df, w) =>
        df.withColumn(s"cum_$w", col(s"__dco_$w") + col(s"__dcw_$w")))
      .drop(cumReserved ++
        weights.flatMap(w => Seq(s"__dcb_$w", s"__dco_$w", s"__dcw_$w")): _*)
  }

  /** ANSI ntile(k) as a closed form of (rn, n): q = n div k rows per
    * tile, the first r = n mod k tiles take one extra. Bit-identical
    * to `ntile(k).over(...)` under the same total order. Both inputs
    * non-negative; when q = 0 the then-branch covers every row (rn ≤
    * n = r), and the greatest() guard only keeps the dead else branch
    * from dividing by zero.
    */
  def ntileOf(rn: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val q = idiv(n.cast("long"), lit(k.toLong))
    val r = n.cast("long") % lit(k.toLong)
    when(rn <= r * (q + 1), idiv(rn - 1, q + 1) + 1)
      .otherwise(r + idiv(rn - r * (q + 1) - 1, greatest(q, lit(1L))) + 1)
      .cast("int")
  }
}
