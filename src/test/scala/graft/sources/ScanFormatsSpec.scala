package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources.DataSourceRegister
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The scan formats (sqldump, xls, xlsx, zip, rar) as their connectors
  * and short names reach them: one reader each, resolved on the driver
  * without a Spark job.
  */
class ScanFormatsSpec extends SparkSpec {
  import spark.implicits._

  private def zipOf(members: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    members.foreach { case (name, text) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(text.getBytes(StandardCharsets.UTF_8))
    }
    z.close()
    bos.toByteArray
  }

  test("connector read runs no Spark job before the first action") {
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val xls = XlsConnector("xls", tmpDir("jobs-xls"))
    val xlsx = XlsxConnector("xlsx", tmpDir("jobs-xlsx"))
    val dump = SqlDumpConnector("sql", tmpDir("jobs-sql")) // ddl.sql holds a CREATE block
    Seq(xls, xlsx, dump).foreach(_.write(rows.repartition(2), "t", WriteMode.Overwrite))
    val archives = tmpDir("jobs-archives")
    val csv = "id,v\n1,a\n2,b\n3,c\n"
    Files.write(Paths.get(archives, "t.zip"), zipOf("m.csv" -> csv))
    Files.write(Paths.get(archives, "t.rar"), RarFixture.makeRar("m.csv" -> csv))
    val connectors = Seq(xls, xlsx, dump, ZipConnector("zip", archives), RarConnector("rar", archives))
    connectors.foreach { c =>
      var df: DataFrame = null
      assert(jobsOf { df = c.read(spark, "t"); df.schema; () } == 0, s"${c.name}: read ran a job")
      assert(df.columns.toSeq == Seq("id", "v"), c.name)
      assert(df.select($"id".cast("long")).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L), c.name)
    }
  }

  test("dump column fallback: INSERT column list, else positional c0..cN, either way in") {
    val root = tmpDir("dump-fallback")
    Files.writeString(Paths.get(root, "named.sql"),
      """-- no CREATE block for either table
        |INSERT INTO `named` (`id`, `name`) VALUES (1, 'a'), (2, 'b');
        |INSERT INTO `named` (`name`, `id`) VALUES ('c', 3);
        |""".stripMargin)
    Files.writeString(Paths.get(root, "bare.sql"),
      """INSERT INTO `other` VALUES (9);
        |INSERT INTO `bare` VALUES (1, 'x', NULL), (2, 'y', 'z');
        |""".stripMargin)
    val c = SqlDumpConnector("dump", root)
    val readers: Seq[(String, String => DataFrame)] = Seq(
      "connector" -> (t => c.read(spark, t)),
      "format" -> (t => spark.read.format("sqldump").option("table", t).load(s"$root/$t.sql")))
    readers.foreach { case (via, read) =>
      var named: DataFrame = null
      var bare: DataFrame = null
      assert(jobsOf { named = read("named"); bare = read("bare") } == 0, via)
      assert(named.columns.toSeq == Seq("id", "name"), via)
      assert(named.orderBy($"id").as[(String, String)].collect().toSeq ==
        Seq(("1", "a"), ("2", "b"), ("3", "c")), via)
      assert(bare.columns.toSeq == Seq("c0", "c1", "c2"), via)
      assert(bare.orderBy($"c0").as[(String, String, String)].collect().toSeq ==
        Seq(("1", "x", null), ("2", "y", "z")), via)
    }
  }

  test("dump schema comes from the first file that defines the table") {
    val dir = tmpDir("dump-first") + "/t.sql"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "ddl.sql"), "CREATE TABLE `t` (\n  `id` bigint,\n  `v` text\n);\n")
    Files.writeString(Paths.get(dir, "part-0.sql"),
      "CREATE TABLE `t` (\n  `other` bigint\n);\nINSERT INTO `t` (`v`, `id`) VALUES ('a', 1);\n")
    val back = spark.read.format("sqldump").option("table", "t").load(dir)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.as[(String, String)].collect().toSeq == Seq(("1", "a")))
  }

  test("a single-file dump splits across tasks") {
    val root = tmpDir("dump-split")
    val lines = (1 to 2000).map(i => s"INSERT INTO `big` (`id`, `v`) VALUES ($i, 'value-$i');")
    Files.write(Paths.get(root, "big.sql"), lines.asJava)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    try {
      Seq(SqlDumpConnector("dump", root).read(spark, "big"),
        spark.read.format("sqldump").option("table", "big").load(s"$root/big.sql")).foreach { df =>
        assert(df.rdd.getNumPartitions > 1)
        assert(df.select($"id".cast("long")).as[Long].collect().sorted.toSeq == (1L to 2000L))
      }
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("every registered data source resolves by its short name") {
    val registered = getClass.getClassLoader
      .getResources("META-INF/services/" + classOf[DataSourceRegister].getName).asScala
      .flatMap(u => Using.resource(Source.fromURL(u, "UTF-8"))(_.getLines().map(_.trim).toList))
      .filter(_.startsWith("graft.")).toSeq
    val byName = registered.map { cls =>
      val name = Class.forName(cls).getDeclaredConstructor().newInstance()
        .asInstanceOf[DataSourceRegister].shortName()
      assert(DataSource.lookupDataSource(name, spark.sessionState.conf).getName == cls, name)
      name -> cls
    }.toMap
    assert(Set("sqldump", "xls", "xlsx", "zip", "rar").subsetOf(byName.keySet), byName)
  }
}
