package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** `Tables.events` and `Tables.eventsStream` must normalize `ts` to ONE
  * canonical TIMESTAMP instant regardless of the physical encoding the
  * harness's parquet happens to carry. Three encodings are pinned:
  *   - raw Long epoch-nanos (what TIMESTAMP(NANOS) parquet becomes under
  *     `spark.sql.legacy.parquet.nanosAsLong`);
  *   - TIMESTAMP_NTZ (what TIMESTAMP(MICROS, isAdjustedToUTC=false)
  *     parquet reads as — the current testdata encoding);
  *   - TIMESTAMP (µs, isAdjustedToUTC=true).
  * All three fixtures encode the SAME instants; both readers must return
  * TimestampType with identical values for each, under the UTC session.
  */
class EventsLoaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val instantsUs = Seq(
    0L,                    // epoch
    1700000000000000L,     // 2023-11-14T22:13:20Z
    1700000000123456L)     // sub-second µs survive

  private def writeFixture(sub: String)(f: org.apache.spark.sql.Column
      => org.apache.spark.sql.Column): String = {
    import spark.implicits._
    val dir = Tmp.dir(s"evload_$sub").toString
    instantsUs.zipWithIndex.toDF("us", "event_id")
      .select(col("event_id").cast("long"), f(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def load(dir: String): Seq[(Long, Long)] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"loader must canonicalize to TIMESTAMP, got ${df.schema("ts").dataType}")
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  private def loadStream(dir: String): Seq[(Long, Long)] = {
    val df = Tables.eventsStream(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType === TimestampType,
      s"stream must canonicalize to TIMESTAMP, got ${df.schema("ts").dataType}")
    TablesSpec.drain(spark,
        df.select(col("event_id"), unix_micros(col("ts")).as("us")))
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
  }

  private val expected: Seq[(Long, Long)] =
    instantsUs.zipWithIndex.map { case (us, i) => (i.toLong, us) }

  test("events loader: raw Long nanos (legacy nanosAsLong path)") {
    val dir = writeFixture("long")(us => (us * 1000).cast("long"))
    assert(load(dir) === expected)
    assert(loadStream(dir) === expected)
  }

  test("events loader: TIMESTAMP_NTZ micros (current testdata encoding)") {
    val dir = writeFixture("ntz")(us =>
      timestamp_micros(us).cast(TimestampNTZType))
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === TimestampNTZType,
      "fixture must round-trip as NTZ or the test pins nothing")
    assert(load(dir) === expected)
    assert(loadStream(dir) === expected)
  }

  test("events loader: TIMESTAMP micros (isAdjustedToUTC)") {
    val dir = writeFixture("tz")(us => timestamp_micros(us))
    assert(load(dir) === expected)
    assert(loadStream(dir) === expected)
  }

  test("events stream: single-file table next to a sibling table") {
    import spark.implicits._
    val dir = Tmp.dir("evload_file").toString
    TablesSpec.singleFile(instantsUs.zipWithIndex.toDF("us", "event_id")
      .select(col("event_id").cast("long"),
        timestamp_micros(col("us")).as("ts")),
      s"$dir/events.parquet")
    TablesSpec.singleFile(Seq((7L, "o")).toDF("o_orderkey", "o_status"),
      s"$dir/orders.parquet")
    assert(new java.io.File(s"$dir/events.parquet").isFile)
    assert(load(dir) === expected)
    assert(loadStream(dir) === expected)
  }

  test("events loader: real harness data (if present) loads and filters") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType === TimestampType)
    // a ts predicate must be usable
    assert(df.filter(col("ts") >= lit("2020-01-01").cast("timestamp"))
      .limit(1).count() >= 0)
    assert(df.count() > 0)
  }
}
