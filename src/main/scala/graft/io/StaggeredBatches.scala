package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** A parquet table laid out as ordered micro-batches for a file stream
  * with `maxFilesPerTrigger = 1`: the file source takes files oldest
  * first, so each batch is written as one file whose modification time
  * is later than every earlier batch's, and batch i is read by
  * micro-batch i.
  */
object StaggeredBatches {

  /** Writes `batches` in order as the parquet table at `path`, replacing
    * what is there, one file per batch, with modification times 10 s
    * apart and the last one 10 s in the past. Returns each batch's file,
    * in batch order. Goes through the Hadoop `FileSystem`, as
    * [[Tables.stream]] resolves the path.
    */
  def write(path: String, batches: Seq[DataFrame]): Seq[Path] = {
    require(batches.nonEmpty, "no batches to write")
    val dir = new Path(path)
    val fs = dir.getFileSystem(
      batches.head.sparkSession.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[Path] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .toSet
    val t0 = System.currentTimeMillis
    batches.zipWithIndex.map { case (df, i) =>
      val before = if (i == 0) Set.empty[Path] else dataFiles()
      df.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(path)
      val added = (dataFiles() -- before).toSeq
      require(added.size == 1,
        s"batch $i wrote ${added.size} files, expected one")
      fs.setTimes(added.head, t0 - 10000L * (batches.size - i), -1)
      added.head
    }
  }
}
