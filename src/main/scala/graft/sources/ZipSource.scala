package graft.sources

import graft.core.{Connector, WriteMode}
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** The CSV members of one archive as one table, shared by [[ZipSource]]
  * and [[RarSource]]: the header is the first member's first row, every
  * member's own header row is dropped and the rest concatenate. Members
  * named `*.csv` (any case) count; CSV parsing uses the univocity parser
  * Spark's csv source builds on.
  */
private[sources] object CsvMembers {
  def isCsv(name: String): Boolean = name.toLowerCase.endsWith(".csv")

  def table(bodies: Iterator[Array[Byte]]): (Seq[String], Seq[Seq[String]]) = {
    var header: Option[Seq[String]] = None
    val rows = Seq.newBuilder[Seq[String]]
    bodies.foreach { body =>
      val settings = new CsvParserSettings()
      settings.setLineSeparatorDetectionEnabled(true)
      settings.setMaxCharsPerColumn(1 << 20)
      val parsed = new CsvParser(settings)
        .parseAll(new ByteArrayInputStream(body), StandardCharsets.UTF_8).asScala
      if (parsed.nonEmpty) {
        if (header.isEmpty) header = Some(ArraySeq.unsafeWrapArray(parsed.head))
        parsed.iterator.drop(1).foreach(r => rows += ArraySeq.unsafeWrapArray(r))
      }
    }
    (header.getOrElse(Nil), rows.result())
  }
}

/** Zip-archive source (S17): archives of CSV members become one table
  * per zip, members concatenated ([[CsvMembers]]); read through
  * `spark.read.format("zip")` ([[graft.sources.v2.PerFileDataSource]]).
  *
  * Scale shape: one input partition per archive, member decompression
  * and CSV parsing in executors (zip is not splittable — the
  * per-archive granularity is inherent to the format, exactly why a
  * 100 TB corpus should land as many medium archives, not one).
  */
object ZipSource {

  /** One archive → (header, rows) of its CSV members. */
  def parse(content: Array[Byte]): (Seq[String], Seq[Seq[String]]) = {
    val zin = new ZipInputStream(new ByteArrayInputStream(content), StandardCharsets.UTF_8)
    // each body is read before the next entry is opened: univocity
    // closes the stream it parses, which would kill the ZipInputStream
    // mid-archive
    CsvMembers.table(Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .filter(e => !e.isDirectory && CsvMembers.isCsv(e.getName))
      .map(_ => zin.readAllBytes()))
  }
}

/** Registry connector: `root/<index>.zip` archives of CSVs. Read-only
  * (the reference's RarD/ZipD are scan-only too).
  */
final case class ZipConnector(name: String, root: String) extends Connector {
  def read(spark: SparkSession, index: String): DataFrame =
    spark.read.format("zip").load(s"$root/$index.zip")
  def write(df: DataFrame, index: String, mode: WriteMode): Unit =
    throw new UnsupportedOperationException("zip connector is scan-only (S17)")
  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".zip")
}
