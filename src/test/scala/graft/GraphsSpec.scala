package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graphs

/** [[Graphs]] on planted lineitem rows: the id encoding, the label
  * spelling, the co-purchase support cut and orientation, and the
  * symmetric view.
  */
class GraphsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("a supplier and a part with the same key get distinct ids that " +
      "decode to that key") {
    import spark.implicits._
    val li = Seq((7L, 7L), (7L, 3L)).toDF("l_suppkey", "l_partkey")
    val e = Graphs.supplierPart(li)
      .select(col("src"), col("dst"), Graphs.key(col("src")).as("sk"),
        Graphs.key(col("dst")).as("pk"), Graphs.isSupplier(col("src")).as("s"),
        Graphs.isSupplier(col("dst")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
    assert(e === Set((14L, 15L, 7L, 7L, true, false),
      (14L, 7L, 7L, 3L, true, false)))
  }

  test("label spells s<k> and p<k>") {
    import spark.implicits._
    val got = Seq(0L, 1L, 14L, 15L, 2000000001L).toDF("id")
      .select(Graphs.label(col("id"))).as[String].collect().toSeq
    assert(got === Seq("s0", "p0", "s7", "p7", "p1000000000"))
  }

  test("coPurchase keeps a pair at support 2, drops it at support 1, " +
      "oriented p1 < p2") {
    import spark.implicits._
    // parts 5 and 2 share orders 1 and 2; parts 5 and 9 share order 3
    // only; the duplicate (1, 5) line counts once
    val li = Seq((1L, 5L), (1L, 5L), (1L, 2L), (2L, 2L), (2L, 5L),
      (3L, 5L), (3L, 9L)).toDF("l_orderkey", "l_partkey")
    def pairs(minSupport: Int) = Graphs.coPurchase(li, minSupport)
      .select(Graphs.key(col("p1")), Graphs.key(col("p2")),
        col("p1") < col("p2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(pairs(2) === Set((2L, 5L, true)))
    assert(pairs(1) === Set((2L, 5L, true), (5L, 9L, true)))
  }

  test("symmetric yields both directions exactly once and carries other " +
      "columns") {
    import spark.implicits._
    val e = Seq((0L, 1L, 4L), (2L, 1L, 9L)).toDF("src", "dst", "w")
    val got = Graphs.symmetric(e).select("src", "dst", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq === Seq((0L, 1L, 4L), (1L, 0L, 4L),
      (1L, 2L, 9L), (2L, 1L, 9L)))
  }
}
