package graft.sources

import graft.core.Core
import org.apache.spark.sql.DataFrame

/** The display sink's icon dispatch (draw_icon,
  * /root/reference/weather.py:205-219) at engine scale: route rendered
  * frames by icon category as a partitioned, compressed columnar write.
  * Partition pruning then makes "all rain frames" a directory listing,
  * not a scan — the 100 TB analogue of branching to a draw function.
  *
  * The write binds `file:` to the fork-free local filesystem through its
  * own options, which Spark merges into this write's Hadoop conf only:
  * a local commit then sets permissions without a shell `chmod` per file.
  */
object DisplaySink {
  def writeFrames(frames: DataFrame, path: String): Unit =
    frames.write
      .mode("overwrite")
      .partitionBy("icon")
      .option("compression", "zstd")
      .options(Core.forkFreeLocalFs)
      .parquet(path)
}
