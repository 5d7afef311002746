package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loader for the driver-generated parquet corpus (TESTDATA.md).
  * One parquet file per table under a scale-factor directory. A load
  * takes its schema from the table's footer on the driver
  * ([[graft.core.ParquetFooter]]), so it runs no Spark job.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some corpus
    * generations, which Spark's vectorized reader rejects. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong` so it arrives as a Long; we
    * convert to a µs timestamp here (the corpus carries no sub-µs bits,
    * so this is lossless). Micros-precision generations read natively
    * and skip the branch.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = graft.core.ParquetFooter.read(spark, s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      // integral `div`, NOT `/`: the ns epoch (~1.7e18) exceeds a
      // double's 53-bit mantissa, so float division drifts by ~100 ns.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Executor-JVM settings for `local-cluster[…]` masters (Verify's
    * cluster-cleanliness mode, the executor-death harness): separate
    * executor JVMs need this project's classes on their classpath and
    * the same JDK-17 --add-opens the driver gets from build.sbt (a
    * spark-submit deployment injects both; a local mini-cluster does
    * not). The env must also carry SPARK_SCALA_VERSION=2.13 — the
    * binary distro at SPARK_HOME has no build dirs for the executor
    * launcher to probe.
    */
  def clusterExecutorConf(b: SparkSession.Builder): SparkSession.Builder = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    b.config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      .config("spark.executor.extraJavaOptions", addOpens)
      // these runs exist to be shot at (fault injection, soak): one
      // executor death must cost a retry, not the job
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
  }

  /** Session defaults shared by Verify / Bench / tests — including the
    * graft extensions (SQL functions, window-top-k rewrite, planner
    * strategy): the driver gates must exercise the engine in its
    * recommended configuration, not a stripped-down one, or the bench
    * would time plans no real user of [[GraftSession]] ever runs.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The corpus writes naive (isAdjustedToUTC=false) timestamps; read
    // them as session-tz TIMESTAMP (UTC session above ⇒ identical
    // instants) so the timestamp operators (`unix_micros`, windows,
    // as-of) type-check. The DuckDB oracle reads the same bytes as
    // naive TIMESTAMP — values agree under the UTC session.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // field-id matching for column-mapped manifest tables (round 17);
    // inert for schemas without id metadata
    .config("spark.sql.parquet.fieldId.read.enabled", "true")
    .config("spark.ui.enabled", "false")
    // the graft V2 catalog (round 18): graftcat.<ns>.<table> resolves
    // onto manifest roots under the warehouse; SQL CREATE/INSERT/MERGE/
    // time-travel land on the same engine the Scala surface uses
    .config("spark.sql.catalog.graftcat", "graft.catalog.GraftCatalog")
    .withExtensions(new graft.functions.GraftExtensions)
}
