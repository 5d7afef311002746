package graft.core

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Footer-resolved parquet schemas equal the schema Spark's own
  * inference gives, on the corpus and on connector-written tables; and
  * every layout where inference would read something other than the
  * first data file's footer falls back to that inference.
  */
class ParquetFooterSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.1"

  private def inferred(path: String, s: SparkSession = spark) = s.read.parquet(path).schema

  test("corpus tables: footer schema equals inference, Tables.load unchanged") {
    Tables.All.foreach { t =>
      val path = s"$sf/$t.parquet"
      assert(ParquetFooter.schema(spark, path).isDefined, t)
      assert(ParquetFooter.read(spark, path).schema == inferred(path), t)
      assert(FileConnector("corpus", sf, "parquet").read(spark, s"$t.parquet").schema ==
        inferred(path), t)
      // the load before footer resolution: inference, then the ts fix-up
      val raw = spark.read.parquet(path)
      val before =
        if (t == "events" && raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      assert(Tables.load(spark, sf, t).schema == before.schema, t)
    }
  }

  test("events.ts keeps the nanosAsLong reading") {
    val path = s"$sf/events.parquet"
    Seq("true", "false").foreach { nanos =>
      val s = Bridge.cloneSession(spark)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      val viaFooter = scala.util.Try(ParquetFooter.read(s, path).schema)
      val viaSpark = scala.util.Try(inferred(path, s))
      assert(viaFooter.isSuccess == viaSpark.isSuccess, s"nanosAsLong=$nanos")
      viaSpark.foreach(want => assert(viaFooter.get == want, s"nanosAsLong=$nanos"))
    }
  }

  test("connector-written parquet: nested, decimal, timestamp and NTZ columns") {
    val c = FileConnector("pq", tmpDir("footer-types"), "parquet")
    val df = spark.range(0, 50, 1, 4).select(
      $"id",
      struct($"id".as("a"), array($"id", $"id" + 1).as("b")).as("nested"),
      map(lit("k"), $"id".cast("string")).as("m"),
      ($"id" / 7).cast("decimal(18,4)").as("dec"),
      ($"id" * 1000).cast("decimal(38,2)").as("wide"),
      timestamp_micros($"id" * 1000003L).as("ts"),
      expr("CAST(timestamp_micros(id) AS TIMESTAMP_NTZ)").as("ntz"),
      date_from_unix_date($"id".cast("int")).as("d"))
    c.write(df, "t", WriteMode.Overwrite)
    val path = c.pathFor("t")
    assert(ParquetFooter.schema(spark, path).isDefined)
    assert(c.read(spark, "t").schema == inferred(path))
    Seq("true", "false").foreach { ntz =>
      val s = Bridge.cloneSession(spark)
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
      assert(ParquetFooter.read(s, path).schema == inferred(path, s), s"inferNTZ=$ntz")
    }
  }

  /** A directory holding `files` (name → source parquet file). */
  private def dirOf(tag: String, files: (String, Path)*): String = {
    val d = Paths.get(tmpDir(tag))
    files.foreach { case (n, f) => Files.copy(f, d.resolve(n), StandardCopyOption.REPLACE_EXISTING) }
    d.toString
  }

  /** One single-file parquet table per schema, as data-file paths. */
  private lazy val (narrow, wide) = {
    def one(df: org.apache.spark.sql.DataFrame): Path = {
      val d = tmpDir("footer-src")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      Files.list(Paths.get(d)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    (one(Seq((1L, "a")).toDF("id", "v")), one(Seq((2L, "b", 3.0)).toDF("id", "v", "extra")))
  }

  private def assertFallback(path: String, s: SparkSession = spark): Unit = {
    assert(ParquetFooter.schema(s, path).isEmpty, path)
    assert(ParquetFooter.read(s, path).schema == inferred(path, s), path)
  }

  test("first footer in path order; hidden files skipped like Spark") {
    val d = dirOf("footer-order", "b.parquet" -> wide, "a.parquet" -> narrow,
      ".hidden.parquet" -> wide, "_tmp.parquet" -> wide)
    assert(ParquetFooter.schema(spark, d).isDefined)
    assert(ParquetFooter.read(spark, d).schema == inferred(d))
    assert(inferred(d).fieldNames.toSeq == Seq("id", "v"))
  }

  test("fallback: summary files") {
    Seq("_common_metadata", "_metadata").foreach { summary =>
      val d = dirOf(s"footer-$summary", "a.parquet" -> narrow, summary -> wide)
      assertFallback(d)
      assert(inferred(d).fieldNames.contains("extra"), summary) // the summary won
    }
  }

  test("fallback: mergeSchema in the session or the connector's options") {
    val d = dirOf("footermerge", "a.parquet" -> narrow, "b.parquet" -> wide)
    val merging = Bridge.cloneSession(spark)
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assertFallback(d, merging)
    assert(inferred(d, merging).fieldNames.contains("extra"))
    val root = Paths.get(d).getParent.toString
    val idx = Paths.get(d).getFileName.toString
    val opts = FileConnector("pq", root, "parquet", Map("mergeSchema" -> "true"))
    assert(opts.read(spark, idx).schema == spark.read.option("mergeSchema", "true").parquet(d).schema)
    assert(opts.read(spark, idx).schema.fieldNames.contains("extra"))
  }

  test("fallback: partition subdirectories") {
    val d = tmpDir("footer-part")
    Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "k").write.partitionBy("k").parquet(s"$d/t")
    assertFallback(s"$d/t")
    assert(FileConnector("pq", d, "parquet").read(spark, "t").schema.fieldNames.contains("k"))
  }

  test("fallback: an empty first file fails inside Spark's own job") {
    val d = dirOf("footer-emptyfirst", "a.parquet" -> narrow)
    Files.write(Paths.get(d, "0-empty.parquet"), Array.emptyByteArray)
    assert(ParquetFooter.schema(spark, d).isEmpty)
    val want = intercept[Exception](inferred(d))
    assert(intercept[Exception](ParquetFooter.read(spark, d)).getClass == want.getClass)
  }

  test("fallback: no data files, missing path, glob") {
    val empty = dirOf("footer-empty")
    Files.write(Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    assert(ParquetFooter.schema(spark, empty).isEmpty)
    intercept[AnalysisException](inferred(empty))
    intercept[AnalysisException](ParquetFooter.read(spark, empty))
    val missing = s"$empty/nope"
    assert(ParquetFooter.schema(spark, missing).isEmpty)
    intercept[AnalysisException](ParquetFooter.read(spark, missing))
    val d = dirOf("footer-glob", "a.parquet" -> narrow, "b.parquet" -> wide)
    assertFallback(s"$d/b*")
  }
}
