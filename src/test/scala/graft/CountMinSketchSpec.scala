package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CountMinSketchAgg

/** Count-Min sketch aggregator: the JVM hash matches the SQL spelling
  * bit for bit, and estimates obey the CMS overestimate guarantee.
  */
class CountMinSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("JVM cell hash equals the portable SQL hash for arbitrary keys") {
    import spark.implicits._
    val keys = Seq("view", "purchase", "error", "x", "", "späßchen", "0:tricky")
    val rows = for (i <- 0 until 4; k <- keys) yield (i, k)
    val df = rows.toDF("i", "k")
    val (h1, h2) = CountMinSketchAgg.hashPairCols(col("k"))
    val sqlCell = pmod(h1 + col("i").cast("long") * h2, lit(64L))
    val got = df.select(col("i"), col("k"), sqlCell.as("cell")).collect()
    got.foreach { r =>
      assert(r.getLong(2) ===
        CountMinSketchAgg.cell(r.getInt(0), r.getString(1), 64).toLong,
        s"mismatch for i=${r.getInt(0)} k=${r.getString(1)}")
    }
  }

  test("estimates are never below true counts and exact without collisions") {
    import spark.implicits._
    val data = Seq.fill(100)("a") ++ Seq.fill(10)("b") ++ Seq("c")
    val cms = new CountMinSketchAgg(4, 64)
    val sketch: Seq[Long] = data.toDF("k").as[String]
      .select(cms.toColumn.name("s")).collect().head
    def est(k: String): Long =
      (0 until 4).map(i => sketch(i * 64 + CountMinSketchAgg.cell(i, k, 64))).min
    assert(est("a") >= 100 && est("b") >= 10 && est("c") >= 1)
    // 3 keys in 64 cells over 4 independent rows: min() sheds collisions
    assert(est("a") === 100 && est("b") === 10 && est("c") === 1)
  }

  test("cms_rollup: day-merged counters equal one-shot, weight conserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("cms_roll").toString
    val day = 86400000000L // µs
    // day 1: x,x,y ; day 2: x,y,y,y → merged: x=3, y=4
    val rows = Seq((1L, "x"), (2L, "x"), (3L, "y"),
      (day + 1, "x"), (day + 2, "y"), (day + 3, "y"), (day + 4, "y"))
    rows.toDF("us", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("cms_rollup")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    for ((k, n) <- Seq("x" -> 3L, "y" -> 4L)) {
      val r = out(k)
      // 2 keys in 64 cells: no collision → merged estimate is exact
      assert(r.getAs[Long]("est_cnt") === n, k)
      assert(r.getAs[Long]("true_cnt") === n, k)
      assert(r.getAs[Long]("n_days") === 2L, k)
      // element-wise sum merge conserves total mass: depth · rows
      assert(r.getAs[Long]("sketch_weight") === 4L * 7L, k)
      assert(r.getAs[Long]("expected_weight") === 4L * 7L, k)
    }
  }
}
