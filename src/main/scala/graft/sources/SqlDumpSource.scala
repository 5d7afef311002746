package graft.sources

import graft.core.{Connector, SchemaInfer, WriteMode}
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** `.sql`-dump source/sink (S15/S16) on Spark.
  *
  * Read path — the one reader of the format, behind both
  * [[SqlDumpConnector]] and `spark.read.format("sqldump")`
  * ([[SqlDumpDataSource]]); it runs no Spark job before the first action:
  *  1. columns: the driver streams the dump's files in listing order
  *     (`ddl.sql` first) and stops at the first whose head
  *     (`schemaScanLines` lines) holds the table's CREATE TABLE block —
  *     CREATE blocks sit before their INSERTs, so this is O(header)
  *     work. A dump with no such block takes the first statement into
  *     the table instead: its column list, else positional `c0..cN`;
  *  2. data: `spark.read.textFile` (line-splittable → parallel over
  *     HDFS-style splits, a large single-file dump included), filter to
  *     `INSERT/REPLACE INTO <table>` lines, parse each statement's
  *     multi-row VALUES in executors. Statements sit one per line
  *     (mysqldump's extended-insert default).
  *
  * Write path: partitions render extended-INSERT statements of
  * `batchRows` rows ([[SqlDumpParser.renderInsert]]) and write as text;
  * the CREATE TABLE DDL (from [[SchemaInfer.toMySqlDdl]]) lands in a
  * sidecar `ddl.sql` the reader's schema pass picks up first.
  */
object SqlDumpSource {

  /** Lines of each file's head searched for the table's CREATE block. */
  private[sources] val SchemaScanLines = 100000

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

  /** Column layout of `table` from one driver pass over `files` (see
    * the class doc). The first statement is taken from the scanned
    * heads; only when none holds one are the files searched further.
    */
  private def columnsOf(spark: SparkSession, files: Seq[Path], table: String,
      statement: Pattern, schemaScanLines: Int): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def withLines[T](f: Path)(body: Iterator[String] => Option[T]): Option[T] = {
      val in = new BufferedReader(new InputStreamReader(f.getFileSystem(conf).open(f),
        StandardCharsets.UTF_8))
      try body(in.lines().iterator().asScala) finally in.close()
    }
    def isStatement(line: String) = statement.matcher(line).matches()
    var first: Option[String] = None
    val created = files.iterator.flatMap(f => withLines(f) { lines =>
      val head = lines.take(schemaScanLines)
        .tapEach(l => if (first.isEmpty && isStatement(l)) first = Some(l))
      SqlDumpParser.createTables(head).collectFirst { case (`table`, cols) => cols }
    }).nextOption()
    created.getOrElse {
      val stmt = first.orElse(files.iterator.flatMap(f => withLines(f)(_.find(isStatement))).nextOption())
        .flatMap(SqlDumpParser.parseInsert)
      stmt.flatMap(_.columns).getOrElse {
        val arity = stmt.flatMap(_.rows.headOption).map(_.size).getOrElse(0)
        (0 until arity).map(i => s"c$i")
      }
    }
  }

  /** Schema and rows of one table of a dump file/directory: what
    * [[read]] and the `sqldump` relation share.
    */
  private[sources] def scan(spark: SparkSession, path: String, table: String,
      schemaScanLines: Int = SchemaScanLines): (StructType, RDD[Row]) = {
    val files = listFiles(spark, path)
    // compiled once and shipped in the closure (`String.matches` would
    // recompile it for every line)
    val statement = Pattern.compile(
      s"""(?is)^\\s*(INSERT|REPLACE)\\s+(?:IGNORE\\s+)?INTO\\s+[`"]?${Pattern.quote(table)}[`"]?[\\s(].*""")
    val columns = columnsOf(spark, files, table, statement, schemaScanLines)
    val schema = StructType(columns.map(StructField(_, StringType, nullable = true)))
    val nCols = columns.length
    val colIdx = columns.zipWithIndex.toMap
    val stmts = spark.read.textFile(files.map(_.toString): _*)
      .filter(line => statement.matcher(line).matches())
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
    (schema, rows)
  }

  /** Read one table out of a dump file/directory. */
  def read(spark: SparkSession, path: String, table: String,
           schemaScanLines: Int = SchemaScanLines): DataFrame = {
    val (schema, rows) = scan(spark, path, table, schemaScanLines)
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

  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".sql")
}

/** The `sqldump` short name — [[SqlDumpSource]]'s reader as a relation:
  *
  * {{{
  *   spark.read.format("sqldump")
  *     .option("table", "users")            // which dump table to scan
  *     .load("/path/to/dump-or-dir")
  * }}}
  */
class SqlDumpDataSource extends RelationProvider with DataSourceRegister {

  override def shortName(): String = "sqldump"

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    def required(key: String): String = parameters.getOrElse(key,
      throw new IllegalArgumentException(s"sqldump: option '$key' is required"))
    val (dumpSchema, rows) =
      SqlDumpSource.scan(sqlContext.sparkSession, required("path"), required("table"))
    val sqlCtx = sqlContext
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = sqlCtx
      override def schema: StructType = dumpSchema
      override def buildScan(): RDD[Row] = rows
    }
  }
}
