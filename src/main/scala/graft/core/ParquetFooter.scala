package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema resolution for [[graft.Tables.load]] and
  * local [[FileConnector]] reads. Without a schema, `spark.read.parquet`
  * runs a Spark job whose one task reads one footer (115–185 ms per load
  * of the sf0.1 corpus on a 4-core host, against 18–42 ms with the
  * schema given). This
  * reads that same footer on the driver, with Spark's own footer reader
  * and converter, and hands the result to `spark.read.schema`.
  *
  * The footer is the one Spark's inference picks when it merges nothing:
  * the first visible data file in path order. Whenever Spark would read
  * something else — `mergeSchema` on, partition or nested
  * subdirectories, `_metadata`/`_common_metadata` summaries, no data
  * files, an empty first file, a glob or a missing path — the read is
  * plain `spark.read.parquet` and Spark infers (or reports the error)
  * itself.
  */
object ParquetFooter {
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path).fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = FooterBridge.hadoopConf(spark)
    footerFile(spark, conf, path).flatMap(FooterBridge.schema(spark, conf, _))
  }

  private def footerFile(spark: SparkSession, conf: Configuration, path: String): Option[FileStatus] = {
    if (FooterBridge.mergeSchema(spark) || path.exists("*?[{\\".contains(_))) return None
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return None }
    val first =
      if (root.isFile) Some(root).filterNot(_ => FooterBridge.hidden(p.getName))
      else {
        val visible = fs.listStatus(p).toSeq.filterNot(s => FooterBridge.hidden(s.getPath.getName))
        val summary = (s: FileStatus) =>
          Seq("_metadata", "_common_metadata").exists(s.getPath.getName.startsWith)
        if (visible.exists(s => s.isDirectory || summary(s))) None
        else visible.sortBy(_.getPath.toString).headOption
      }
    // an empty first file fails (or is skipped) inside Spark's own job
    first.filter(_.getLen > 0)
  }
}
