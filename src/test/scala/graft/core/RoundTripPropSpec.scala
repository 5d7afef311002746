package graft.core

import graft.SparkSpec
import graft.sources.SqlDumpSource
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

/** Property-style connector round-trips (FIXTURES.md): generated rows →
  * write → read → equal modulo the format's documented typing. Hostile
  * strings (quotes, separators, escapes, unicode) are the point.
  * Deterministic seeds so failures reproduce.
  */
class RoundTripPropSpec extends SparkSpec {
  import spark.implicits._

  private val hostileString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("it's", "a,b", "quo\"te", "back\\slash",
      "新闻 text", "emoji 😀", "x", "padded  ", "(paren,comma)"),
  )

  private val rowGen: Gen[(Long, String, Double, Boolean)] = for {
    id <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
    s <- hostileString
    d <- Gen.chooseNum(-1e6, 1e6).map(x => math.rint(x * 100) / 100)
    b <- Arbitrary.arbBool.arbitrary
  } yield (id, s, d, b)

  /** 5 deterministic samples of up-to-20-row tables. */
  private def samples: Seq[List[(Long, String, Double, Boolean)]] =
    (1 to 5).map { i =>
      Gen.resize(20, Gen.nonEmptyListOf(rowGen))
        .apply(Gen.Parameters.default, Seed(42L + i)).get
        // distinct ids: keyless formats can't distinguish duplicate rows
        .distinctBy(_._1)
    }

  test("parquet and json round-trip exactly") {
    for (rows <- samples; fmt <- Seq("parquet", "json")) {
      val df = rows.toDF("id", "s", "d", "b")
      val c = FileConnector(s"rt-$fmt", tmpDir(s"rt-$fmt"), fmt)
      c.write(df, "t", WriteMode.Overwrite)
      val back = c.read(spark, "t")
        .select($"id".cast("long"), $"s", $"d".cast("double"), $"b".cast("boolean"))
        .as[(Long, String, Double, Boolean)].collect().toSet
      assert(back == rows.toSet, s"format $fmt rows=$rows")
    }
  }

  test("csv round-trips modulo its documented typing (trim/empty-vs-null)") {
    for (rows <- samples) {
      val df = rows.toDF("id", "s", "d", "b")
      val c = FileConnector("rt-csv", tmpDir("rt-csv"), "csv")
      c.write(df, "t", WriteMode.Overwrite)
      val back = c.read(spark, "t")
        .select($"id".cast("long"), $"s".cast("string"), $"d".cast("double"), $"b".cast("boolean"))
        .as[(Long, String, Double, Boolean)].collect()
      assert(back.length == rows.length)
      def norm(t: (Long, String, Double, Boolean)) =
        (t._1, Option(t._2).map(_.trim).filter(_.nonEmpty), t._3, t._4)
      assert(back.map(norm).toSet == rows.map(norm).toSet)
    }
  }

  test("sqldump round-trips all values (as strings) including hostile ones") {
    for (rows <- samples) {
      val dir = tmpDir("rt-dump")
      val df = rows.toDF("id", "s", "d", "b")
      SqlDumpSource.write(df, s"$dir/t.sql", "t", batchRows = 7)
      val back = spark.read.format("sqldump").option("table", "t").load(s"$dir/t.sql")
        .select($"id".cast("long"), $"s", $"d".cast("double"),
          ($"b" === "1" || $"b" === "true").as("b"))
        .as[(Long, String, Double, Boolean)].collect()
      assert(back.length == rows.length)
      assert(back.map(t => (t._1, t._3, t._4)).toSet == rows.map(t => (t._1, t._3, t._4)).toSet)
      assert(back.map(_._2).toSet == rows.map(_._2).toSet)
    }
  }
}
