package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import org.apache.spark.sql.functions._

/** Golden tests for the .sql-dump parser and source/sink, covering the
  * adversarial shapes the reference's fixtures exercise (escaped quotes,
  * doubled quotes, hex/bit literals, NULLs, nested parens and commas
  * inside strings, emoji, multi-row VALUES, full-type CREATE blocks) —
  * fixtures re-authored here, not copied.
  */
class SqlDumpSpec extends SparkSpec {
  import SqlDumpParser._

  test("parseValues: quoting, escapes, NULL, numbers, hex, bit, nested parens") {
    val rows = parseValues(
      """(1, 'plain', NULL, 3.14, 0xDEADBEEF, b'0101', 'it''s', 'a\'b', 'c\\d',
        | 'json {\"k\": \"v(1,2)\"}', 'tail,comma', '😀'), (2, 'line\nbreak', NULL,
        | -7, 0x00, b'1', 'x', 'y', 'z', '{}', '(', ')');""".stripMargin.replace("\n", " "))
    assert(rows.length == 2)
    val r = rows.head
    assert(r(0) == "1")
    assert(r(1) == "plain")
    assert(r(2) == null)
    assert(r(3) == "3.14")
    assert(r(4) == "0xDEADBEEF")
    assert(r(5) == "b'0101'")
    assert(r(6) == "it's") // '' doubling
    assert(r(7) == "a'b") // backslash-escaped quote
    assert(r(8) == "c\\d") // escaped backslash
    assert(r(9) == """json {"k": "v(1,2)"}""") // parens+commas inside string
    assert(r(10) == "tail,comma")
    assert(r(11) == "😀")
    assert(rows(1)(1) == "line\nbreak")
  }

  test("parseInsert: INSERT / REPLACE / IGNORE forms with and without column lists") {
    val a = parseInsert("""INSERT INTO `t` (`id`, `name`) VALUES (1, 'x'), (2, 'y');""").get
    assert(a.table == "t" && a.columns.contains(Seq("id", "name")) && a.rows.length == 2)
    val b = parseInsert("""REPLACE INTO t VALUES (3, 'z');""").get
    assert(b.table == "t" && b.columns.isEmpty && b.rows == Seq(Seq("3", "z")))
    val c = parseInsert("""INSERT IGNORE INTO `db_t2` VALUES (1);""").get
    assert(c.table == "db_t2")
    assert(parseInsert("DROP TABLE t;").isEmpty)
    assert(parseInsert("-- comment").isEmpty)
  }

  test("scanSchemas: CREATE TABLE block learning with full MySQL type surface") {
    val dump =
      """-- MySQL dump re-authored fixture
        |SET NAMES utf8mb4;
        |CREATE TABLE `alltypes` (
        |  `c_bigint` bigint NOT NULL,
        |  `c_bin` binary(16) DEFAULT NULL,
        |  `c_bit` bit(64) DEFAULT NULL,
        |  `c_blob` blob,
        |  `c_char` char(32) DEFAULT '',
        |  `c_date` date DEFAULT NULL,
        |  `c_dt6` datetime(6) DEFAULT NULL,
        |  `c_dec` decimal(65,0) DEFAULT NULL,
        |  `c_double` double DEFAULT NULL,
        |  `c_enum` enum('a','b','c') DEFAULT 'a',
        |  `c_float` float DEFAULT NULL,
        |  `c_geom` geometry DEFAULT NULL,
        |  `c_int` int DEFAULT NULL,
        |  `c_json` json DEFAULT NULL,
        |  `c_text` text,
        |  `c_set` set('x','y') DEFAULT NULL,
        |  `c_time6` time(6) DEFAULT NULL,
        |  `c_ts6` timestamp(6) NULL DEFAULT NULL,
        |  `c_varchar` varchar(256) DEFAULT NULL,
        |  PRIMARY KEY (`c_bigint`),
        |  KEY `idx_int` (`c_int`)
        |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
        |CREATE TABLE `second` (
        |  `id` int NOT NULL
        |);
        |INSERT INTO `alltypes` VALUES (1, 0x00, b'1', NULL, 'c', '2024-01-02', NULL, 42, 1.5, 'a', 2.5, NULL, 7, '{\"k\": 1}', 'txt', 'x', NULL, NULL, 'v');
        |""".stripMargin
    val schemas = scanSchemas(dump.linesIterator)
    assert(schemas.keySet == Set("alltypes", "second"))
    assert(schemas("alltypes").length == 19)
    assert(schemas("alltypes").take(3) == Seq("c_bigint", "c_bin", "c_bit"))
    assert(!schemas("alltypes").contains("idx_int")) // KEY lines skipped
    assert(schemas("second") == Seq("id"))
  }

  test("source reads a dump end-to-end: schema from CREATE, rows from multi-row INSERTs") {
    val dir = tmpDir("dump-read")
    val dump =
      """CREATE TABLE `users` (
        |  `id` bigint NOT NULL,
        |  `name` varchar(64) DEFAULT NULL,
        |  `bio` text
        |);
        |INSERT INTO `users` VALUES (1, 'alice', 'likes \'quotes\''), (2, 'bob', NULL);
        |INSERT INTO `users` (`name`, `id`) VALUES ('carol', 3);
        |INSERT INTO `other` VALUES (99, 'ignored');
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "dump.sql"), dump)

    val df = SqlDumpSource.read(spark, s"$dir/dump.sql", "users")
    assert(df.columns.toSeq == Seq("id", "name", "bio"))
    val rows = df.orderBy(col("id").cast("long")).collect()
    assert(rows.length == 3)
    assert(rows(0).getString(2) == "likes 'quotes'")
    assert(rows(1).getString(2) == null)
    // column-list remap: ('carol', 3) lands as id=3, name=carol, bio=null
    assert(rows(2).getString(0) == "3" && rows(2).getString(1) == "carol" && rows(2).getString(2) == null)
  }

  test("renderInsert escapes and modes; ON DUPLICATE KEY UPDATE suffix") {
    val s = renderInsert("t", Seq("id", "v"),
      Seq(Seq(1L, "o'brien \\ path\nx"), Seq(2L, null)),
      "INSERT IGNORE", Some("v = GREATEST(VALUES(v), v)"))
    assert(s.startsWith("INSERT IGNORE INTO `t` (`id`, `v`) VALUES "))
    assert(s.contains("""(1, 'o\'brien \\ path\nx')"""))
    assert(s.contains("(2, NULL)"))
    assert(s.endsWith("ON DUPLICATE KEY UPDATE v = GREATEST(VALUES(v), v);"))
    assert(renderValue(Array[Byte](0x0A, -1)) == "0x0AFF")
    assert(renderValue(null) == "NULL")
  }

  test("round-trip: DataFrame → dump dir → DataFrame preserves values incl. hostile strings") {
    import spark.implicits._
    val dir = tmpDir("dump-rt")
    val df = Seq(
      (1L, "plain", 1.5),
      (2L, "it's, and ('nested')", -0.25),
      (3L, "back\\slash and \"quotes\"", 0.0),
      (4L, "emoji 😀 + 中文", 9.75),
      (5L, null.asInstanceOf[String], 3.0),
    ).toDF("id", "name", "score")
    SqlDumpSource.write(df, s"$dir/users.sql", "users", batchRows = 2)
    val back = SqlDumpSource.read(spark, s"$dir/users.sql", "users")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    val rows = back.select($"id".cast("long"), $"name", $"score".cast("double"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows(1)._2 == "it's, and ('nested')")
    assert(rows(2)._2 == "back\\slash and \"quotes\"")
    assert(rows(3)._2 == "emoji 😀 + 中文")
    assert(rows(4)._2 == null)
    assert(rows.map(_._3).toSeq == Seq(1.5, -0.25, 0.0, 9.75, 3.0))
  }

  test("""format("sqldump") resolves by short name, schema from CREATE block""") {
    import spark.implicits._
    val dir = tmpDir("dump-dsv2")
    val dump =
      """CREATE TABLE `users` (
        |  `id` bigint NOT NULL,
        |  `name` varchar(64) DEFAULT NULL
        |);
        |INSERT INTO `users` VALUES (1, 'alice'), (2, 'it''s bob');
        |REPLACE INTO `users` VALUES (3, NULL);
        |INSERT INTO `other` VALUES (9, 'no');
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "d.sql"), dump)

    val df = spark.read.format("sqldump").option("table", "users").load(s"$dir/d.sql")
    assert(df.columns.toSeq == Seq("id", "name"))
    val rows = df.orderBy($"id".cast("long")).as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "alice"), ("2", "it's bob"), ("3", null)))
    // predicate works through the format (filtered post-scan)
    assert(df.filter($"name".contains("bob")).count() == 1)
  }

  test("""format("sqldump") reads a dump directory written by the sink""") {
    import spark.implicits._
    val dir = tmpDir("dump-dsv2-rt")
    val df = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("id", "name").repartition(4)
    SqlDumpSource.write(df, s"$dir/t.sql", "t", batchRows = 10)
    val back = spark.read.format("sqldump").option("table", "t").load(s"$dir/t.sql")
    // splits like Spark's line reader over the same files: small part
    // files share partitions (openCostInBytes packing), still > 1
    val files = new java.io.File(s"$dir/t.sql").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getPath)
    assert(back.rdd.getNumPartitions == spark.read.textFile(files.toIndexedSeq: _*).rdd.getNumPartitions)
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == 100)
    assert(back.select($"id".cast("long")).as[Long].collect().sorted.toSeq == (1L to 100L))
  }

  test("SqlDumpConnector: registry protocol (write modes, listIndexes)") {
    import spark.implicits._
    val c = SqlDumpConnector("dump", tmpDir("dump-conn"))
    c.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t1", WriteMode.Overwrite)
    c.write(Seq((9, "z")).toDF("id", "v"), "t2", WriteMode.InsertIgnore(Seq("id")))
    assert(c.listIndexes(spark) == Seq("t1", "t2"))
    assert(c.read(spark, "t1").count() == 2)
    // IGNORE mode surfaces in the emitted statements
    val txt = spark.read.textFile(s"${c.root}/t2.sql").filter(_.contains("INSERT")).head()
    assert(txt.startsWith("INSERT IGNORE INTO `t2`"))
  }
}
