package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The one reader of the registered queries' parquet tables: every
  * `(dir, name)` table and every scratch path becomes a DataFrame here,
  * batch or streaming. Schemas always come from the file footers. The
  * only thing kept between calls is [[parquetRowCount]]'s per-path row
  * count; no schema, plan or data is cached. Reads take the session as
  * given: the graft defaults (non-ANSI casts, UTC, `nanosAsLong`) are
  * applied once per registered build by [[graft.SparkEntry.registry]],
  * not per read.
  */
object Tables {

  /** `dir/name.parquet`. */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to one canonical TIMESTAMP type. */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(read(s, dir, "events"))

  /** The parquet table at `path` as an unbounded source, with the schema
    * its footer declares. A directory table is streamed directly. A
    * single-file table is streamed as its parent directory filtered to
    * the file's name, because the file source rejects a file as its
    * base path. The layout comes from the Hadoop file status, so `file:`
    * and `hdfs:` URIs resolve the same way the batch reader does.
    */
  def stream(s: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val rd = s.readStream.schema(s.read.parquet(path).schema)
    val limited = maxFilesPerTrigger
      .map(n => rd.option("maxFilesPerTrigger", n.toString)).getOrElse(rd)
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory) limited.parquet(path)
    else limited.option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
  }

  /** [[stream]] of `dir/events.parquet` with [[events]]' `ts` type. */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    normalizeTs(stream(s, s"$dir/events.parquet"))

  /** Branches on the `ts` type the footer actually declares, so readers
    * keep working when the data's physical precision moves:
    *  - TIMESTAMP(NANOS) arrives as raw Long nanos under the session's
    *    `nanosAsLong` (see [[graft.GraftSession.tune]]) — integer `div` keeps
    *    full precision (double division would lose bits above 2^53);
    *  - TIMESTAMP(MICROS) without isAdjustedToUTC arrives as
    *    TIMESTAMP_NTZ — under the UTC session, casting to TIMESTAMP
    *    reinterprets the same wall clock as the same instant DuckDB
    *    reads, so oracle epoch semantics are unchanged.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Row count of a parquet table from file FOOTERS (summed block row
    * counts), no Spark job — the `nRows` feed for the adaptive-banding
    * builders ([[graft.llm.Similarity.signLshNearDupPairs]]/
    * `semDedupDroppedAuto`/`cosineNearDupGated`), whose `emb.count()`
    * default otherwise runs two extra jobs per invocation at index-build
    * time (count + its partial-agg stage). Exactly what a table catalog
    * supplies at 100 TB; cached per path because plan-shape snapshots
    * and Verify both rebuild the same query repeatedly. Footer reads are
    * O(files) driver-side metadata fetches, the same class of work as
    * listing the directory.
    */
  private val footerCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def parquetRowCount(s: SparkSession, path: String): Long =
    footerCounts.computeIfAbsent(path, { p: String =>
      val conf = s.sparkContext.hadoopConfiguration
      val root = new Path(p)
      val fs = root.getFileSystem(conf)
      val files = fs.listStatus(root).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      require(files.nonEmpty, s"no parquet files under $p")
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })
}
