package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** `Tables.stream` must see the same rows as the batch reader for both
  * table layouts (a Spark-written directory and a single parquet file),
  * whether the path is plain or a `file:` URI.
  */
class TablesSpec extends AnyFunSuite {
  import TablesSpec._

  lazy val spark: SparkSession = TestSpark.session

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id").as("event_id"),
      (col("id") % 3).as("user_id"))

  private def sorted(rs: Seq[Row]): Seq[Seq[Any]] =
    rs.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  private def assertStreamMatchesBatch(path: String, n: Int): Unit = {
    val batch = sorted(spark.read.parquet(path).collect().toSeq)
    assert(batch.length === n, s"fixture at $path")
    assert(sorted(drain(spark, Tables.stream(spark, path))) === batch,
      s"stream rows differ from batch rows at $path")
  }

  test("stream of a directory table equals its batch read, " +
      "plain and file: URI") {
    val dir = Tmp.dir("tables_dir").toString
    val table = s"$dir/events.parquet"
    rows(10).repartition(2).write.parquet(table)
    assert(Files.isDirectory(Paths.get(table)))
    assertStreamMatchesBatch(table, 10)
    assertStreamMatchesBatch(s"file:$table", 10)
  }

  test("stream of a single-file table equals its batch read, " +
      "plain and file: URI") {
    val dir = Tmp.dir("tables_file").toString
    val table = s"$dir/events.parquet"
    singleFile(rows(10), table)
    singleFile(rows(4), s"$dir/orders.parquet")
    assert(Files.isRegularFile(Paths.get(table)))
    assertStreamMatchesBatch(table, 10)
    assertStreamMatchesBatch(s"file:$table", 10)
  }
}

object TablesSpec {

  /** All rows of a streaming DataFrame after one AvailableNow drain. */
  def drain(spark: SparkSession, df: DataFrame): Seq[Row] = {
    val name = "drain_" + java.util.UUID.randomUUID.toString.replace("-", "")
    df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    try spark.table(name).collect().toSeq
    finally spark.catalog.dropTempView(name)
  }

  /** Write `df` as ONE parquet file at `dest` (not a directory). */
  def singleFile(df: DataFrame, dest: String): Unit = {
    val tmp = Tmp.dir("tables_one")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = tmp.resolve("t").toFile.listFiles
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file, got ${part.length}")
    Files.move(part.head.toPath, Paths.get(dest))
  }
}
