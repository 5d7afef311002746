package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own footer reads and hidden-path rule (private upstream), for
  * [[graft.core.ParquetFooter]]'s driver-side schema resolution.
  */
object FooterBridge {
  private def state(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The Hadoop conf Spark's own file listing and footer reads use. */
  def hadoopConf(spark: SparkSession): Configuration = state(spark).newHadoopConf()
  def schema(spark: SparkSession, conf: Configuration, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), state(spark).conf.ignoreCorruptFiles), spark)
  def mergeSchema(spark: SparkSession): Boolean = state(spark).conf.isParquetSchemaMergingEnabled
  def hidden(name: String): Boolean = org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
