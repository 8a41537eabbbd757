package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bucketing

/** Bucketed co-located join: same-bucketed tables join with no shuffle
  * exchange on either side — the write-once-shuffle-never layout for
  * keys joined daily at scale.
  */
class BucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("same-bucketed tables sort-merge join with zero exchanges") {
    val dir = Tmp.dir("buckets").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")

    Bucketing.writeBucketed(orders, "orders_b", s"$dir/orders", "o_orderkey", 8)
    Bucketing.writeBucketed(lineitem, "lineitem_b", s"$dir/lineitem", "o_orderkey", 8)

    // force the join path (tiny tables would broadcast otherwise)
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val joined = Bucketing.coLocatedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      // and it still computes the right thing
      val cnt = joined.count()
      val expected = orders.join(lineitem, "o_orderkey").count()
      assert(cnt === expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
