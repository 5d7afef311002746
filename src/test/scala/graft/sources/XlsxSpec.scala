package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import org.apache.spark.sql.functions._

class XlsxSpec extends SparkSpec {
  import spark.implicits._

  test("round-trip: types, nulls, XML-hostile strings, unicode") {
    val dir = tmpDir("xlsx-rt")
    val df = Seq(
      (1L, "plain", 1.5, true),
      (2L, "<tag> & \"quoted\"", -0.25, false),
      (3L, "新闻 😀", 0.0, true),
      (4L, null.asInstanceOf[String], 9.75, false),
    ).toDF("id", "name", "score", "flag")
    XlsxSource.write(df, s"$dir/t.xlsx")
    val back = spark.read.format("xlsx").load(s"$dir/t.xlsx")
    assert(back.columns.toSeq == Seq("id", "name", "score", "flag"))
    val rows = back
      .select($"id".cast("long"), $"name", $"score".cast("double"), $"flag".cast("boolean"))
      .as[(Long, String, Double, Boolean)].collect().sortBy(_._1)
    assert(rows.length == 4)
    assert(rows(1)._2 == "<tag> & \"quoted\"")
    assert(rows(2)._2 == "新闻 😀")
    assert(rows(3)._2 == null)
    assert(rows.map(_._3).toSeq == Seq(1.5, -0.25, 0.0, 9.75))
    assert(rows.map(_._4).toSeq == Seq(true, false, true, false))
  }

  test("sheet rollover: >rolloverRows rows split across sheets, all read back") {
    val dir = tmpDir("xlsx-roll")
    val df = (1 to 25).map(i => (i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
    XlsxSource.write(df, s"$dir/t.xlsx", rolloverRows = 10)
    // single partition → one workbook with ceil(25/10)=3 sheets
    val files = new java.io.File(s"$dir/t.xlsx").listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length == 1)
    val (_, rows) = XlsxSource.parseWorkbook(
      java.nio.file.Files.readAllBytes(files.head.toPath))
    assert(rows.length == 25)
    val back = spark.read.format("xlsx").load(s"$dir/t.xlsx")
    assert(back.count() == 25)
    assert(back.select($"id".cast("long")).as[Long].collect().sorted.toSeq == (1L to 25L))
  }

  test("multi-partition write → one workbook per partition, parallel read") {
    val dir = tmpDir("xlsx-mp")
    val df = (1 to 40).map(i => (i.toLong, s"n$i")).toDF("id", "v").repartition(4)
    XlsxSource.write(df, s"$dir/t.xlsx")
    val files = new java.io.File(s"$dir/t.xlsx").listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length == 4)
    val back = spark.read.format("xlsx").load(s"$dir/t.xlsx")
    assert(back.count() == 40)
  }

  test("control characters are scrubbed on write (illegal in XML)") {
    val dir = tmpDir("xlsx-ctrl")
    val df = Seq((1L, "badctrlhere")).toDF("id", "v")
    XlsxSource.write(df, s"$dir/t.xlsx")
    val v = spark.read.format("xlsx").load(s"$dir/t.xlsx").select("v").as[String].head()
    assert(v == "bad ctrl here")
  }

  test("XlsxConnector registry protocol") {
    val c = XlsxConnector("xlsx", tmpDir("xlsx-conn"))
    c.write(Seq((1, "a")).toDF("id", "v"), "t1", WriteMode.Overwrite)
    c.write(Seq((2, "b"), (3, "c")).toDF("id", "v"), "t2", WriteMode.Overwrite)
    assert(c.listIndexes(spark) == Seq("t1", "t2"))
    assert(c.read(spark, "t2").count() == 2)
  }
}
