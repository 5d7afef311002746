package graft.sources

import graft.core.{Connector, SchemaInfer, WriteMode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** `.sql`-dump source/sink (S15/S16) on Spark.
  *
  * Read path — two passes, both bounded:
  *  1. schema: driver streams the head of each file (CREATE TABLE blocks
  *     sit before their INSERTs in a dump) through
  *     [[SqlDumpParser.scanSchemas]], capped at `schemaScanLines` lines —
  *     O(header) work regardless of file size;
  *  2. data: `spark.read.textFile` (line-splittable → parallel over
  *     HDFS-style splits), filter to `INSERT/REPLACE INTO <table>` lines,
  *     parse each statement's multi-row VALUES in executors. One-statement
  *     -per-line dumps (mysqldump's extended-insert default) parallelize
  *     perfectly; statements spanning lines need `wholeFile=true`
  *     (one partition per file — the format itself is unsplittable then).
  *
  * Write path: partitions render extended-INSERT statements of
  * `batchRows` rows ([[SqlDumpParser.renderInsert]]) and write as text;
  * the CREATE TABLE DDL (from [[SchemaInfer.toMySqlDdl]]) lands in a
  * sidecar `ddl.sql` the reader's schema pass picks up first.
  */
object SqlDumpSource {

  /** Collect (path, fs) file list: a single file, or every data file in
    * a directory with `ddl.sql` first (schema priority).
    */
  private def listFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    if (fs.getFileStatus(p).isDirectory) {
      val all = fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      val (ddl, rest) = all.partition(_.getName == "ddl.sql")
      ddl ++ rest.sortBy(_.getName)
    } else Seq(p)
  }

  /** Driver-side bounded schema scan. */
  def scanSchemas(spark: SparkSession, path: String, schemaScanLines: Int = 100000): Map[String, Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    listFiles(spark, path).foldLeft(Map.empty[String, Seq[String]]) { (acc, f) =>
      val fs = f.getFileSystem(conf)
      val in = new BufferedReader(new InputStreamReader(fs.open(f), StandardCharsets.UTF_8))
      try acc ++ SqlDumpParser.scanSchemas(in.lines().iterator().asScala, schemaScanLines)
      finally in.close()
    }
  }

  /** Read one table out of a dump file/directory. */
  def read(spark: SparkSession, path: String, table: String,
           schemaScanLines: Int = 100000): DataFrame = {
    import spark.implicits._
    val created = scanSchemas(spark, path, schemaScanLines).get(table)
    // compiled once and shipped in the closure (`String.matches` would
    // recompile it for every line)
    val prefix = java.util.regex.Pattern.compile(
      s"""(?is)^\\s*(INSERT|REPLACE)\\s+(?:IGNORE\\s+)?INTO\\s+[`"]?${java.util.regex.Pattern.quote(table)}[`"]?[\\s(].*""")
    val stmts = spark.read.textFile(listFiles(spark, path).map(_.toString): _*)
      .filter(line => prefix.matcher(line).matches())
    // Column layout: CREATE TABLE order, else the first statement's
    // explicit column list, else positional c0..cN.
    val columns: Seq[String] = created.getOrElse {
      val first = stmts.take(1).headOption.flatMap(SqlDumpParser.parseInsert)
      first.flatMap(_.columns).getOrElse {
        val arity = first.map(_.rows.headOption.map(_.size).getOrElse(0)).getOrElse(0)
        (0 until arity).map(i => s"c$i")
      }
    }
    val schema = StructType(columns.map(StructField(_, StringType, nullable = true)))
    val nCols = columns.length
    val colIdx = columns.zipWithIndex.toMap
    val rows = stmts.rdd.flatMap { line =>
      SqlDumpParser.parseInsert(line).toSeq.flatMap { ins =>
        // statement-level column list remaps into CREATE order
        val mapping: Option[Seq[Int]] = ins.columns.map(_.map(c => colIdx.getOrElse(c, -1)))
        ins.rows.map { vals =>
          val arr = new Array[Any](nCols)
          mapping match {
            case Some(m) =>
              m.zip(vals).foreach { case (tgt, v) => if (tgt >= 0) arr(tgt) = v }
            case None =>
              vals.take(nCols).zipWithIndex.foreach { case (v, i) => arr(i) = v }
          }
          Row.fromSeq(arr.toSeq)
        }
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Write a DataFrame as a dump directory: `ddl.sql` + extended-INSERT
    * text parts. `insertMode`: INSERT | INSERT IGNORE | REPLACE (+
    * optional ON DUPLICATE KEY UPDATE suffix — P11).
    */
  def write(
      df: DataFrame,
      path: String,
      table: String,
      insertMode: String = "INSERT",
      batchRows: Int = 1000,
      onDupUpdate: Option[String] = None,
      pks: Seq[String] = Nil,
      overwrite: Boolean = true,
  ): Unit = {
    val spark = df.sparkSession
    val columns = df.columns.toSeq
    val stmtDs = df.mapPartitions { (it: Iterator[Row]) =>
      it.grouped(batchRows).map { batch =>
        SqlDumpParser.renderInsert(table, columns, batch.map(_.toSeq), insertMode, onDupUpdate)
      }
    }(Encoders.STRING)
    stmtDs.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append).text(path)
    // sidecar DDL (after the data write so Overwrite doesn't clobber it)
    val ddl = SchemaInfer.toMySqlDdl(df.schema, table, pks) + ";\n"
    val out = new Path(path, "ddl.sql")
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(out, true)
    try os.write(ddl.getBytes(StandardCharsets.UTF_8)) finally os.close()
  }
}

/** Registry connector for dump files: index ↔ `root/<index>.sql`
  * (a dump directory per table).
  */
final case class SqlDumpConnector(
    name: String,
    root: String,
    insertMode: String = "INSERT",
    batchRows: Int = 1000,
) extends Connector {
  private def pathFor(index: String): String = s"$root/$index.sql"

  def read(spark: SparkSession, index: String): DataFrame =
    SqlDumpSource.read(spark, pathFor(index), index)

  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    val (m, pks) = mode match {
      case WriteMode.InsertIgnore(k) => ("INSERT IGNORE", k)
      case WriteMode.Replace(k)      => ("REPLACE", k)
      case _                         => (insertMode, Nil)
    }
    SqlDumpSource.write(df, pathFor(index), index, m, batchRows, None, pks,
      overwrite = true)
  }

  def listIndexes(spark: SparkSession): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.getPath.getName.endsWith(".sql"))
      .map(_.getPath.getName.stripSuffix(".sql")).sorted
  }
}
