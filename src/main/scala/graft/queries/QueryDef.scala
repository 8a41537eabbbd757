package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark build over an sf directory and the
  * value-identical DuckDB SQL over the same parquet tables.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {

  /** The concatenation of `lists`, rejecting a name registered twice,
    * whether within one list or across two.
    */
  def registry(lists: Seq[QueryDef]*): Seq[QueryDef] = {
    val all = lists.flatten
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The oracle of `name` in `defs`, for a query that answers to another
    * query's oracle.
    */
  def oracle(defs: Seq[QueryDef], name: String): String =
    defs.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no query named $name")).oracle
}
