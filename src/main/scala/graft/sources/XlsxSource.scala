package graft.sources

import graft.core.{Connector, WriteMode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** XLSX source/sink (S13/S14) with no external dependency — an .xlsx is
  * a zip of XML parts, both ends handled with JDK zip + DOM.
  *
  * Reference semantics reproduced: read ALL sheets of a workbook with
  * the header on row 1 of each sheet; write with sheet rollover after
  * `rolloverRows` data rows (500,000 by default, the reference's limit)
  * and XML-illegal control characters scrubbed.
  *
  * Scale shape: one workbook per input partition on write (parallel,
  * no driver materialization); read through `spark.read.format("xlsx")`
  * ([[graft.sources.v2.PerFileDataSource]]), parallelism = number of
  * workbook files (the container format is not splittable).
  */
object XlsxSource {

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  // ---- write ----

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      // \r as a CHARACTER REFERENCE: raw CR in XML text is normalized
      // to LF by every conforming parser (XML 1.0 §2.11) — the
      // reference form survives, so a cell holding "a\rb" reads back
      // byte-identical (found by WorkbookPropSpec fuzzing)
      case '\r' => sb.append("&#xD;")
      case c if c == '\t' || c == '\n' => sb.append(c)
      case c if c < ' ' => sb.append(' ') // illegal-char scrub
      case c => sb.append(c)
    }
    sb.toString
  }

  private def colRef(i: Int): String = { // 0 → A, 25 → Z, 26 → AA …
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def sheetXml(header: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val sb = new StringBuilder
    sb.append(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append(s"""<worksheet xmlns="$Ns"><sheetData>""")
    def appendRow(rowIdx: Int, vals: Seq[Any]): Unit = {
      sb.append(s"""<row r="$rowIdx">""")
      vals.zipWithIndex.foreach { case (v, ci) =>
        val ref = colRef(ci) + rowIdx
        v match {
          case null => // empty cell omitted
          case n: java.lang.Number =>
            sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case b: java.lang.Boolean =>
            sb.append(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
          case other =>
            sb.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(other.toString)}</t></is></c>""")
        }
      }
      sb.append("</row>")
    }
    appendRow(1, header)
    var r = 2
    rows.foreach { vals => appendRow(r, vals); r += 1 }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  /** Build one workbook (bytes) with sheet rollover. */
  private[sources] def workbookBytes(
      header: Seq[String], rows: Iterator[Seq[Any]], rolloverRows: Int): Array[Byte] = {
    // grouped() is the DEFINED way to chunk an iterator, and no sheet
    // cap: dropping rows past a cap would be silent data loss
    val sheets = ArrayBuffer.empty[String]
    rows.grouped(rolloverRows).foreach(chunk => sheets += sheetXml(header, chunk.iterator))
    if (sheets.isEmpty) sheets += sheetXml(header, Iterator.empty)

    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    val sheetDecls = sheets.indices
      .map(i => s"""<sheet name="Sheet${i + 1}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""").mkString
    val relDecls = sheets.indices
      .map(i => s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString
    val typeDecls = sheets.indices
      .map(i => s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString

    put("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |$typeDecls
         |</Types>""".stripMargin)
    put("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="$Ns" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetDecls</sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$relDecls</Relationships>""".stripMargin)
    sheets.zipWithIndex.foreach { case (xml, i) => put(s"xl/worksheets/sheet${i + 1}.xml", xml) }
    z.close()
    bos.toByteArray
  }

  /** Distributed write: one workbook per partition under `path/`. */
  def write(df: DataFrame, path: String, rolloverRows: Int = 500000): Unit = {
    val header = df.columns.toSeq
    val conf = org.apache.spark.sql.graft.Bridge.serializableConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val fs0 = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs0.exists(target)) fs0.delete(target, true)
    fs0.mkdirs(target)
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val bytes = workbookBytes(header, it.map(_.toSeq), rolloverRows)
        val out = new Path(path, f"part-$pid%05d.xlsx")
        val os = out.getFileSystem(conf.value).create(out, true)
        try os.write(bytes) finally os.close()
      }
    }
  }

  // ---- read ----

  /** Parse all sheets of one workbook; yields data rows (header row of
    * every sheet dropped). Supports inlineStr, sharedStrings, numeric
    * and boolean cells.
    */
  private[sources] def parseWorkbook(content: Array[Byte]): (Seq[String], Seq[Seq[String]]) = {
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(content), StandardCharsets.UTF_8)
    Iterator.continually(zin.getNextEntry).takeWhile(_ != null).foreach { e =>
      if (!e.isDirectory) entries(e.getName) = zin.readAllBytes()
    }
    val shared: IndexedSeq[String] = entries.get("xl/sharedStrings.xml").map { b =>
      val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new ByteArrayInputStream(b))
      val sis = doc.getElementsByTagName("si")
      (0 until sis.getLength).map(i => sis.item(i).getTextContent)
    }.getOrElse(IndexedSeq.empty)

    var header: Seq[String] = Nil
    val data = ArrayBuffer.empty[Seq[String]]
    val sheetNames = entries.keys.filter(_.matches("xl/worksheets/sheet\\d+\\.xml")).toSeq
      .sortBy(n => n.stripPrefix("xl/worksheets/sheet").stripSuffix(".xml").toInt)
    sheetNames.foreach { name =>
      val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new ByteArrayInputStream(entries(name)))
      val rowNodes = doc.getElementsByTagName("row")
      (0 until rowNodes.getLength).foreach { ri =>
        val row = rowNodes.item(ri).asInstanceOf[org.w3c.dom.Element]
        val cells = row.getElementsByTagName("c")
        val vals = ArrayBuffer.empty[String]
        (0 until cells.getLength).foreach { ci =>
          val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
          // honor the cell reference so skipped (null) cells keep position
          val ref = c.getAttribute("r").takeWhile(_.isLetter)
          val colIdx = ref.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
          while (vals.size < colIdx) vals += null
          val t = c.getAttribute("t")
          val v = t match {
            case "inlineStr" => c.getTextContent
            case "s" => shared(c.getElementsByTagName("v").item(0).getTextContent.toInt)
            case "b" => if (c.getElementsByTagName("v").item(0).getTextContent == "1") "true" else "false"
            case _ =>
              val vn = c.getElementsByTagName("v")
              if (vn.getLength == 0) null else vn.item(0).getTextContent
          }
          vals += v
        }
        if (ri == 0 && header.isEmpty) header = vals.toSeq.map(Option(_).getOrElse(""))
        else if (ri > 0) data += vals.toSeq
      }
    }
    (header, data.toSeq)
  }
}

/** Registry connector: `root/<index>.xlsx` (a directory of per-partition
  * workbooks written by this library, or a single workbook file).
  */
final case class XlsxConnector(name: String, root: String, rolloverRows: Int = 500000)
    extends Connector {
  private def pathFor(index: String): String = s"$root/$index.xlsx"
  def read(spark: SparkSession, index: String): DataFrame =
    spark.read.format("xlsx").load(pathFor(index))
  def write(df: DataFrame, index: String, mode: WriteMode): Unit =
    XlsxSource.write(df, pathFor(index), rolloverRows)
  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".xlsx")
}
