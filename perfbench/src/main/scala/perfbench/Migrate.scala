package perfbench

import graft.core._
import graft.merge.MergeJob
import graft.sources.SqlDumpConnector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.io.File
import java.sql.DriverManager
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** The reference's own job: tables moved between connectors with
  * [[MigrationJob]], keyed upserts onto existing sinks and a two-source
  * [[MergeJob]], over the seeded tables in `dir` (see fixtures.py).
  * Sinks live under `<runDir>/sinks` and an embedded Derby database
  * under `<runDir>/derby`; both are emptied before every pass.
  */
final class MigrateWorkload(dir: String, runDir: String, tr: Tracer) extends Workload {
  private val sinks = s"$runDir/sinks"
  private val derbyUrl = s"jdbc:derby:$runDir/derby/db;create=true"
  private val pks = Seq("o_orderkey")

  private def keyed(kind: String): WriteMode => String = {
    case WriteMode.InsertIgnore(_) | WriteMode.Replace(_) => kind
    case _ => "write"
  }
  private val rawSrc = FileConnector("src", dir, "parquet")
  private val rawCsv = FileConnector("csv", s"$sinks/csv", "csv")
  private val rawJson = FileConnector("json", s"$sinks/json", "json")
  private val rawPq = FileConnector("pq", s"$sinks/parquet", "parquet")
  private val rawDerby = JdbcConnector("derby", derbyUrl)
  private val rawSql = SqlDumpConnector("sql", s"$sinks/sql")

  private val src = TimedConnector(rawSrc, "core.file", tr)
  private val csv = TimedConnector(rawCsv, "core.file", tr)
  private val json = TimedConnector(rawJson, "core.file", tr, keyed("merge"))
  private val pq = TimedConnector(rawPq, "core.file", tr)
  private val derby = TimedConnector(rawDerby, "core.jdbc", tr, keyed("upsert"))
  private val sql = TimedConnector(rawSql, "sources.sqldump", tr)

  private val withYear = Transform().add("o_year", year(col("o_orderdate")))
  /** The batch in the shape the JSON hop gave the orders table (and the
    * Derby table after it): a year column, and the order date as the
    * JSON writer renders it.
    */
  private val jsonShape = withYear.withColumn("o_orderdate",
    date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))

  def resolve(spark: SparkSession): Unit =
    Seq("orders", "orders_batch", "customer", "documents")
      .foreach(t => src.read(spark, s"$t.parquet").schema)

  private def move(job: MigrationJob, spark: SparkSession, from: String, to: String): Long =
    tr.span("core.migration.run")(job.runOne(spark, from, to))

  def ops(spark: SparkSession): Seq[Op] = {
    // rows each upsert commits: Replace writes every batch row (changed
    // and new orders), InsertIgnore only those whose key is new
    val batch = spark.read.parquet(s"$dir/orders_batch.parquet")
    val batchRows = batch.count()
    val newRows = batch.join(spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey"),
      pks, "left_anti").count()
    val ow = WriteMode.Overwrite
    Seq(
      Op("orders:parquet>csv", "core.file.write", _ =>
        move(MigrationJob(src, csv, mode = ow), spark, "orders.parquet", "orders")),
      Op("orders:csv>json", "core.file.write", _ =>
        move(MigrationJob(csv, json, transform = withYear, dedup = true, dedupCols = pks, mode = ow),
          spark, "orders", "orders")),
      Op("orders:json>derby", "core.jdbc.write", _ =>
        move(MigrationJob(json, derby, mode = ow), spark, "orders", "orders")),
      Op("documents:parquet>sql", "sources.sqldump.write", _ =>
        move(MigrationJob(src, sql, mode = ow), spark, "documents.parquet", "documents")),
      Op("documents:sql>parquet", "core.file.write", _ =>
        move(MigrationJob(sql, pq, mode = ow), spark, "documents", "documents")),
      Op("orders_batch:replace>derby", "core.jdbc.upsert", _ => {
        move(MigrationJob(src, derby, transform = jsonShape, mode = WriteMode.Replace(pks)),
          spark, "orders_batch.parquet", "orders")
        batchRows
      }),
      Op("orders_batch:insert_ignore>json", "core.file.merge", _ => {
        move(MigrationJob(src, json, transform = jsonShape, mode = WriteMode.InsertIgnore(pks)),
          spark, "orders_batch.parquet", "orders")
        newRows
      }),
      Op("orders+customer:merge>parquet", "core.file.write", _ => tr.span("merge.merge") {
        val merged = MergeJob.merge(src.read(spark, "orders.parquet"),
          src.read(spark, "customer.parquet"), "o_custkey", "c_custkey")
        pq.write(merged, "orders_customer", ow)
        -1L
      }))
  }

  override def reset(spark: SparkSession, pass: Int): Unit = {
    deleteTree(new File(sinks))
    val conn = DriverManager.getConnection(derbyUrl)
    try {
      val rs = conn.getMetaData.getTables(null, null, "ORDERS", Array("TABLE"))
      val exists = try rs.next() finally rs.close()
      if (exists) { val st = conn.createStatement(); try st.execute("DROP TABLE orders") finally st.close() }
    } finally conn.close()
  }

  /** The file sinks; Derby's files are not Spark output. */
  def sinkRoots(pass: Int): Seq[String] = Seq(sinks)

  // ---- output check: read each sink back and compare its digest with
  // the rows expected from the source tables ----

  private var expected: Map[String, (Digest, StructType)] = Map.empty

  /** (ops it covers, connector, index, expected rows) */
  private def checks(spark: SparkSession): Seq[(Seq[String], Connector, String, DataFrame)] = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val orders = t("orders")
    val distinctOrders = orders.distinct()
    val batch = t("orders_batch")
    val keysOf = (df: DataFrame) => df.select("o_orderkey")
    val json = distinctOrders.withColumn("o_year", year(col("o_orderdate")))
    val batchJson = batch.withColumn("o_year", year(col("o_orderdate")))
    val derbyFinal = json.join(keysOf(batch), Seq("o_orderkey"), "left_anti").unionByName(batchJson)
    val jsonFinal = json.unionByName(batchJson.join(keysOf(json), Seq("o_orderkey"), "left_anti"))
    val customer = t("customer")
    val merged = orders.join(customer, orders("o_custkey") === customer("c_custkey"), "left")
      .select((orders.columns.map(c => orders(c)) ++ customer.columns.map(c => customer(c))): _*)
    Seq(
      (Seq("orders:parquet>csv"), rawCsv, "orders", orders),
      (Seq("orders:csv>json", "orders_batch:insert_ignore>json"), rawJson, "orders", jsonFinal),
      (Seq("orders:json>derby", "orders_batch:replace>derby"), rawDerby, "orders", derbyFinal),
      (Seq("documents:parquet>sql"), rawSql, "documents", t("documents")),
      (Seq("documents:sql>parquet"), rawPq, "documents", t("documents")),
      (Seq("orders+customer:merge>parquet"), rawPq, "orders_customer", merged))
  }

  /** Runs independent Spark jobs side by side. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  override def check(spark: SparkSession, recs: Seq[OpRec]): Seq[OpRec] = {
    val cs = checks(spark)
    if (expected.isEmpty)
      expected = inParallel(cs) { case (ops, _, _, df) => ops.head -> (Digest.of(df), df.schema) }.toMap
    val verdicts = inParallel(cs) { case (ops, conn, idx, _) =>
      val (want, schema) = expected(ops.head)
      val got =
        try Right(Digest.of(Digest.conform(conn.read(spark, idx), schema)))
        catch { case NonFatal(e) => Left(s"read-back failed: ${Failure.describe(e)}") }
      ops -> got.flatMap(g =>
        if (g == want) Right(g.rows)
        else Left(s"${conn.name}/$idx digest $g, expected $want"))
    }
    recs.map { r =>
      verdicts.find(_._1.contains(r.name)) match {
        case _ if !r.ok => r
        case Some((_, Left(msg))) =>
          System.err.println(s"[perfbench] check failed for ${r.name} (pass ${r.pass}): $msg")
          r.copy(error = Some(s"check: $msg"))
        case Some((_, Right(rows))) if r.rows < 0 => r.copy(rows = rows)
        case _ => r
      }
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Order-independent digest of a table: row count, a sum and an xor of
  * per-row hashes.
  */
final case class Digest(rows: Long, sum: Long, xor: Long)

object Digest {
  def of(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `df` with the expected schema's columns, matched by name without
    * regard to case and cast to the expected types: sinks that do not
    * keep types (CSV, JSON, Derby) are compared by value.
    */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(schema.fields.toSeq.map { f =>
      val c = byLower.getOrElse(f.name.toLowerCase,
        throw new NoSuchElementException(s"column ${f.name} missing; got ${df.columns.mkString(",")}"))
      col(s"`$c`").cast(f.dataType).as(f.name)
    }: _*)
  }
}
