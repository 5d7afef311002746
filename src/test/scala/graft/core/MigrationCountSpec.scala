package graft.core

import graft.SparkSpec
import graft.sources.{EsConnector, GridFsConnector, MongoConnector, SqlDumpConnector,
  XlsConnector, XlsxConnector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `MigrationJob.runOne` counts the rows it sends while the sink writes
  * them: for every writable connector and write mode, the count equals
  * an independent `count()` of the frame the step sent — the batch, not
  * the table total, when appending or upserting into an existing table.
  */
class MigrationCountSpec extends SparkSpec {
  import spark.implicits._

  private val pks = Seq("id")
  private val ow = WriteMode.Overwrite
  private val append = WriteMode.Append
  private val ignore = WriteMode.InsertIgnore(pks)
  private val replace = WriteMode.Replace(pks)

  /** 40 rows over 3 partitions; keys 20..59 overlap [[existing]]. */
  private def batch: DataFrame =
    (20L until 60L).map(i => (i, s"n$i", i * 0.5)).toDF("id", "name", "v").repartition(3)
  private def existing: DataFrame =
    (0L until 30L).map(i => (i, s"old$i", -1.0)).toDF("id", "name", "v")
  private val evens = Transform.identity.filter($"id" % 2 === 0)

  /** Seeds `sink` (when asked), runs one step from an in-memory source
    * and checks its count against the frame it sent.
    */
  private def check(sink: Connector, index: String, mode: WriteMode,
      rows: DataFrame = batch, seed: Option[DataFrame] = None,
      transform: Transform = evens): Unit = {
    seed.foreach(sink.write(_, index, ow))
    val src = MemConnector("src")
    src.put("t", rows)
    val n = MigrationJob(src, sink, transform, mode = mode).runOne(spark, "t", index)
    val sent = transform(rows).count()
    assert(sent > 0)
    assert(n == sent, s"${sink.name}/$index $mode: runOne $n, frame sent $sent")
  }

  private def allModes(sink: Connector, seed: DataFrame = existing): Unit = {
    check(sink, "t_ow", ow)
    check(sink, "t_ow", ow) // overwrite of an existing table
    check(sink, "t_app", append, seed = Some(seed))
    check(sink, "t_ign", ignore, seed = Some(seed))
    check(sink, "t_rep", replace, seed = Some(seed))
    check(sink, "t_rep_new", replace)
  }

  test("file sinks: csv, json, parquet count every mode") {
    Seq("csv", "json", "parquet").foreach { f =>
      allModes(FileConnector(f, tmpDir(s"cnt-$f"), f))
    }
  }

  test("file sink: text counts every mode") {
    val text = FileConnector("text", tmpDir("cnt-text"), "text")
    val lines = batch.select(concat_ws(",", $"id", $"name").as("value"))
    val keep = Transform.identity.filter(length($"value") > 5)
    Seq(ow, append, WriteMode.InsertIgnore(Seq("value")), WriteMode.Replace(Seq("value")))
      .foreach { m =>
        check(text, "t", m, rows = lines, transform = keep,
          seed = Some(Seq("20,n20", "zz").toDF("value")))
      }
  }

  test("Derby JdbcConnector counts plain and keyed writes, including auto-create") {
    val url = s"jdbc:derby:${tmpDir("cnt-derby")}/db;create=true"
    val derby = JdbcConnector("derby", url)
    // keyed tables carry their primary key: concurrent per-partition
    // MERGEs on a key-less Derby table lock whole scans and deadlock
    def keyedSeed(table: String): Unit = {
      JdbcExec.execute(url, s"""CREATE TABLE $table ("id" BIGINT NOT NULL PRIMARY KEY, """ +
        """"name" VARCHAR(64), "v" DOUBLE)""", Map.empty)
      derby.write(existing, table, append)
    }
    check(derby, "t_ow", ow)
    check(derby, "t_app", append, seed = Some(existing))
    keyedSeed("t_ign")
    check(derby, "t_ign", ignore)
    keyedSeed("t_rep")
    check(derby, "t_rep", replace)
    // auto-created tables (ensureTable) carry the key too
    check(derby, "t_new_ign", ignore)
    check(derby, "t_new_rep", replace)
    Seq("T_NEW_IGN", "T_NEW_REP").foreach { t =>
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.getMetaData.getPrimaryKeys(null, null, t)
        val key = Iterator.continually(rs).takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toList
        rs.close()
        assert(key == List("id"), s"$t primary key")
      } finally conn.close()
    }
  }

  test("dump, document and workbook sinks count what they are sent") {
    allModes(SqlDumpConnector("sql", tmpDir("cnt-sql")))
    allModes(EsConnector("es", tmpDir("cnt-es"), pks = Map("t_app" -> pks)))
    Seq(MongoConnector("mongo", tmpDir("cnt-mongo")),
      XlsConnector("xls", tmpDir("cnt-xls")),
      XlsxConnector("xlsx", tmpDir("cnt-xlsx"))).foreach { sink =>
      check(sink, "t", ow)
      check(sink, "t", append, seed = Some(existing))
    }
  }

  test("GridFS sink counts uploaded files") {
    val grid = GridFsConnector("grid", tmpDir("cnt-grid"), chunkSize = 8)
    val files = (1 to 9).map(i => (s"f$i.bin", Array.fill[Byte](i * 5)(i.toByte)))
      .toDF("filename", "content").repartition(2)
    val big = Transform.identity.filter(length($"content") > 10)
    check(grid, "b", ow, rows = files, transform = big)
    check(grid, "b", append, rows = files, transform = big)
  }

  test("lazy MemConnector sink falls back to counting the frame") {
    val mem = MemConnector("mem")
    check(mem, "t", ow)
    check(mem, "t", append, seed = Some(existing))
  }

  test("an empty step counts 0") {
    val pq = FileConnector("pq", tmpDir("cnt-empty"), "parquet")
    val none = Transform.identity.filter($"id" < 0)
    val src = MemConnector("src")
    src.put("t", batch)
    assert(MigrationJob(src, pq, none, mode = ow).runOne(spark, "t", "t") == 0L)
  }

  test("parquet→parquet runOne runs only the jobs of its write") {
    val root = tmpDir("cnt-jobs")
    val src = FileConnector("src", root, "parquet")
    val dst = FileConnector("dst", tmpDir("cnt-jobs-dst"), "parquet")
    src.write(batch, "t", ow)
    assert(jobsOf(src.read(spark, "t").schema) == 0, "a local parquet read infers no schema job")
    val writeOnly = jobsOf(dst.write(src.read(spark, "t"), "direct", ow))
    var n = 0L
    val step = jobsOf { n = MigrationJob(src, dst, mode = ow).runOne(spark, "t", "t") }
    assert(n == 40L)
    assert(writeOnly >= 1)
    assert(step == writeOnly, s"runOne ran $step jobs; the write alone runs $writeOnly")
  }
}
