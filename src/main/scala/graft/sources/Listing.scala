package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Name-suffix listing shared by the connectors whose tables are
  * `root/<index><suffix>` entries and by the per-file scans.
  */
private[sources] object Listing {

  /** Entries directly under `dir` whose name ends with `suffix`, files
    * and directories alike, unordered; Nil when `dir` does not exist.
    */
  def bySuffix(conf: Configuration, dir: String, suffix: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(suffix))
  }

  /** A connector's `listIndexes`: the sorted `<index>` names of `root`. */
  def indexes(spark: SparkSession, root: String, suffix: String): Seq[String] =
    bySuffix(spark.sparkContext.hadoopConfiguration, root, suffix)
      .map(_.getPath.getName.stripSuffix(suffix)).sorted
}
