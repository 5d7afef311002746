package graft.sources.v2

import graft.sources.{Listing, RarSource, XlsSource, XlsxSource, ZipSource}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.graft.{Bridge, SerializableHadoopConf}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 scan of the formats whose files parse whole — the one
  * reader of each, and what their connectors read through:
  *
  * {{{
  *   spark.read.format("xlsx").load("/path/to/dir-or-file.xlsx")
  *   spark.read.format("xls").load("/legacy/dir-or-file.xls")
  *   spark.read.format("zip").load("/archives/t.zip")  // CSV members
  *   spark.read.format("rar").load("/archives/t.rar")  // CSV members
  * }}}
  *
  * `path` is one file or a directory of `*.<ext>` files. All-string
  * schema from the header of the path-ordered first file (first-row
  * typing, like the reference); other files' rows are padded or
  * truncated to its width. Schema resolution reads that one file on the
  * driver and runs no Spark job. One input partition per file: none of
  * the containers (zip, CFB, rar) is splittable, so per-file is the
  * natural granularity. A format supplies only `parse`: one file's
  * bytes → (header, data rows).
  */
abstract class PerFileDataSource(ext: String, parse: PerFileScan.Parse)
    extends TableProvider with DataSourceRegister {

  override def shortName(): String = ext

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException(s"$ext: missing path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val first = PerFileScan.listFiles(conf, path, ext).headOption
      .getOrElse(throw new IllegalArgumentException(s"$ext: no .$ext files at $path"))
    val header = parse(PerFileScan.bytes(first, conf))._1
    require(header.nonEmpty, s"$ext: no header row in $first")
    StructType(header.map(StructField(_, StringType, nullable = true)))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    PerFileTable(pathOf(new CaseInsensitiveStringMap(properties)), ext, parse, schema)
}

class XlsxDataSource extends PerFileDataSource("xlsx", XlsxSource.parseWorkbook)
class XlsDataSource extends PerFileDataSource("xls", XlsSource.parseWorkbook)
class ZipDataSource extends PerFileDataSource("zip", ZipSource.parse)
class RarDataSource extends PerFileDataSource("rar", RarSource.parse)

case class PerFileTable(path: String, ext: String, parse: PerFileScan.Parse, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"$ext:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => PerFileScan(path, ext, parse, tableSchema)
}

object PerFileScan {
  /** One file's bytes → (header, data rows). */
  type Parse = Array[Byte] => (Seq[String], Seq[Seq[String]])

  /** `path` itself, or the `*.<ext>` files of directory `path` in path order. */
  def listFiles(conf: Configuration, path: String, ext: String): Seq[String] = {
    val p = new Path(path)
    if (p.getFileSystem(conf).getFileStatus(p).isDirectory)
      Listing.bySuffix(conf, path, s".$ext").filter(_.isFile).map(_.getPath.toString).sorted
    else Seq(path)
  }

  def bytes(file: String, conf: Configuration): Array[Byte] = {
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    try in.readAllBytes() finally in.close()
  }
}

case class PerFileScan(path: String, ext: String, parse: PerFileScan.Parse, schema: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  private def conf = SparkSession.active.sparkContext.hadoopConfiguration

  override def planInputPartitions(): Array[InputPartition] =
    PerFileScan.listFiles(conf, path, ext).map(f => PerFilePartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    PerFileReaderFactory(parse, schema.length, Bridge.serializableConf(conf))
}

case class PerFilePartition(file: String) extends InputPartition

case class PerFileReaderFactory(parse: PerFileScan.Parse, width: Int, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PerFilePartitionReader(partition.asInstanceOf[PerFilePartition].file, parse, width, conf)
}

/** Parses one file on first advance, then streams its rows. */
class PerFilePartitionReader(
    file: String, parse: PerFileScan.Parse, width: Int, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private var it: Iterator[InternalRow] = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (it == null)
      it = parse(PerFileScan.bytes(file, conf.value))._2.iterator.map { vals =>
        InternalRow.fromSeq(vals.padTo(width, null).take(width)
          .map(v => if (v == null) null else UTF8String.fromString(v)))
      }
    if (!it.hasNext) return false
    row = it.next()
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
