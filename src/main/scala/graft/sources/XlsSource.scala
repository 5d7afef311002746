package graft.sources

import graft.core.{Connector, WriteMode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Legacy `.xls` (BIFF8) source/sink — the reference reads and writes
  * 97-2003 workbooks alongside xlsx (`XlsIbyFileD`,
  * d22d/utils/db/__init__.py:863-923, via xlrd/xlwt). Like
  * [[XlsxSource]] this is dependency-free: a `.xls` file is an OLE2
  * compound file (CFB) wrapping a "Workbook" stream of BIFF8 records,
  * and both layers are bounded formats handled here directly.
  *
  * Reference semantics reproduced: read ALL sheets with the header on
  * row 1 of each sheet; write with sheet rollover at the BIFF8 hard
  * limit (65,535 data rows + header per sheet — the format's own cap,
  * vs the reference's 500k xlsx rollover) and one workbook per input
  * partition (parallel write, no driver materialization).
  *
  * Coverage — read: SST (+CONTINUE fragments, compressed & UTF-16
  * strings, rich/ext tails), LABELSST, LABEL, NUMBER, RK, MULRK,
  * BOOLERR, FORMULA (cached numeric/bool/string results); mini-FAT and
  * regular-FAT streams, DIFAT chains. Write: NUMBER/BOOLERR/LABELSST
  * cells, SST with string-boundary + mid-string CONTINUE splits.
  * Streams shorter than the 4,096-byte mini-stream cutoff are
  * zero-padded up to it so the writer never needs mini-FAT machinery
  * (trailing zero bytes parse as empty records and are skipped by any
  * BIFF reader); the READER does implement mini-FAT, because
  * real-world small files use it.
  *
  * Scale shape: identical to [[XlsxSource]] — read through
  * `spark.read.format("xls")` (the container is not splittable;
  * parallelism = workbook count), `foreachPartition` write.
  */
object XlsSource {

  // ---------------------------------------------------------------- CFB

  private val Signature = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
  private val FreeSect = 0xFFFFFFFF
  private val EndOfChain = 0xFFFFFFFE
  private val FatSect = 0xFFFFFFFD
  private val MiniCutoff = 4096

  private def le(i: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array()
  private def le16(i: Int): Array[Byte] =
    ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(i.toShort).array()

  private val DifSect = 0xFFFFFFFC

  /** Wrap one stream into a minimal v3 CFB container (512-byte sectors;
    * DIFAT sectors are chained when the FAT outgrows the header's 109
    * slots, i.e. workbook streams past ~7 MB — see class doc for the
    * mini-stream padding note).
    */
  private[sources] def cfbBytes(streamName: String, stream0: Array[Byte]): Array[Byte] = {
    val stream = if (stream0.length >= MiniCutoff) stream0
      else java.util.Arrays.copyOf(stream0, MiniCutoff)
    val streamSectors = (stream.length + 511) / 512
    // FAT covers every sector (DIFAT + FAT + dir + stream); each FAT
    // sector indexes 128 sectors, each DIFAT sector lists 127 FAT
    // sectors past the header's 109. Sizes are interdependent → fixpoint.
    var fatSectors = 1
    var difatSectors = 0
    var stable = false
    while (!stable) {
      val total = difatSectors + fatSectors + 1 + streamSectors
      val needFat = (total + 127) / 128
      val needDifat = math.max(0, (needFat - 109 + 126) / 127)
      stable = needFat == fatSectors && needDifat == difatSectors
      fatSectors = needFat; difatSectors = needDifat
    }
    val totalSectors = difatSectors + fatSectors + 1 + streamSectors
    val firstFat = difatSectors // layout: [DIFAT][FAT][dir][stream]
    val dirSector = difatSectors + fatSectors
    val firstStreamSector = dirSector + 1

    val out = ByteBuffer.allocate(512 * (1 + totalSectors)).order(ByteOrder.LITTLE_ENDIAN)
    // header
    out.put(Signature)                    // 0
    out.position(24)
    out.putShort(0x003E.toShort)          // minor version
    out.putShort(3.toShort)               // major version 3 (512-byte sectors)
    out.putShort(0xFFFE.toShort)          // byte order
    out.putShort(9.toShort)               // sector shift
    out.putShort(6.toShort)               // mini sector shift
    out.position(44)
    out.putInt(fatSectors)                // number of FAT sectors
    out.putInt(dirSector)                 // first directory sector
    out.putInt(0)                         // transaction signature
    out.putInt(MiniCutoff)                // mini stream cutoff
    out.putInt(EndOfChain)                // first mini FAT sector (none)
    out.putInt(0)                         // mini FAT sector count
    out.putInt(if (difatSectors > 0) 0 else EndOfChain) // first DIFAT sector
    out.putInt(difatSectors)              // DIFAT sector count
    (0 until 109).foreach(i => out.putInt(if (i < fatSectors) firstFat + i else FreeSect))
    // DIFAT sectors: FAT ids 109+, 127 per sector + next-DIFAT pointer
    (0 until difatSectors).foreach { s =>
      out.position(512 * (1 + s))
      (0 until 127).foreach { j =>
        val fatIdx = 109 + s * 127 + j
        out.putInt(if (fatIdx < fatSectors) firstFat + fatIdx else FreeSect)
      }
      out.putInt(if (s == difatSectors - 1) EndOfChain else s + 1)
    }
    // FAT sectors
    out.position(512 * (1 + firstFat))
    (0 until totalSectors).foreach { s =>
      val v =
        if (s < difatSectors) DifSect
        else if (s < difatSectors + fatSectors) FatSect
        else if (s == dirSector) EndOfChain
        else if (s == totalSectors - 1) EndOfChain
        else s + 1 // stream chain is laid out sequentially
      out.putInt(v)
    }
    (totalSectors until fatSectors * 128).foreach(_ => out.putInt(FreeSect))
    // directory sector: Root Entry + stream + 2 empties
    out.position(512 * (1 + dirSector))
    def dirEntry(name: String, typ: Int, child: Int, start: Int, size: Int): Unit = {
      val base = out.position()
      val utf16 = name.getBytes(StandardCharsets.UTF_16LE)
      out.put(utf16, 0, math.min(utf16.length, 62))
      out.position(base + 64)
      out.putShort(if (name.isEmpty) 0 else (utf16.length + 2).toShort)
      out.put(typ.toByte)
      out.put(1.toByte) // color: black
      out.putInt(FreeSect) // left sibling
      out.putInt(FreeSect) // right sibling
      out.putInt(child)
      out.position(base + 116)
      out.putInt(start)
      out.putInt(size)
      out.position(base + 128)
    }
    dirEntry("Root Entry", 5, child = 1, start = EndOfChain, size = 0)
    dirEntry(streamName, 2, child = FreeSect, start = firstStreamSector, size = stream.length)
    dirEntry("", 0, FreeSect, FreeSect, 0)
    dirEntry("", 0, FreeSect, FreeSect, 0)
    // stream sectors
    out.position(512 * (1 + firstStreamSector))
    out.put(stream)
    out.array()
  }

  private final case class DirEntry(name: String, typ: Int, start: Int, size: Long)

  /** Extract a named stream from a CFB container (regular + mini FAT). */
  private[sources] def cfbStream(file: Array[Byte], names: Set[String]): Array[Byte] = {
    val buf = ByteBuffer.wrap(file).order(ByteOrder.LITTLE_ENDIAN)
    require(Signature.indices.forall(i => file(i) == Signature(i)), "not an OLE2/CFB file (bad signature)")
    val sectorSize = 1 << buf.getShort(30)
    def sector(idx: Int): Array[Byte] = {
      // sector 0 starts right after the header, which occupies one sector
      // slot in both v3 (512) and v4 (4096) layouts
      val base = sectorSize * (1 + idx)
      java.util.Arrays.copyOfRange(file, base, math.min(base + sectorSize, file.length))
    }
    def ints(b: Array[Byte]): Array[Int] = {
      val ib = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.length / 4)(ib.getInt)
    }
    // FAT sector list: 109 header DIFAT entries + DIFAT chain
    val fatSectorIds = ArrayBuffer.empty[Int]
    (0 until 109).foreach { i =>
      val v = buf.getInt(76 + 4 * i)
      if (v != FreeSect && v != EndOfChain) fatSectorIds += v
    }
    var difat = buf.getInt(68)
    while (difat != EndOfChain && difat != FreeSect) {
      val entries = ints(sector(difat))
      entries.dropRight(1).foreach(v => if (v != FreeSect) fatSectorIds += v)
      difat = entries.last
    }
    val fat = fatSectorIds.toArray.flatMap(id => ints(sector(id)))
    def chain(start: Int, table: Array[Int]): Seq[Int] = {
      val out = ArrayBuffer.empty[Int]
      var s = start
      var guard = 0
      while (s != EndOfChain && s != FreeSect && guard < table.length + 2) {
        out += s; s = table(s); guard += 1
      }
      out.toSeq
    }
    def readChain(start: Int, size: Long): Array[Byte] = {
      val bytes = chain(start, fat).toArray.flatMap(sector)
      java.util.Arrays.copyOf(bytes, size.toInt)
    }
    // directory
    val dirBytes = chain(buf.getInt(48), fat).toArray.flatMap(sector)
    val entries = (0 until dirBytes.length / 128).map { i =>
      val eb = ByteBuffer.wrap(dirBytes, i * 128, 128).order(ByteOrder.LITTLE_ENDIAN)
      val nameLen = eb.getShort(i * 128 + 64) & 0xFFFF
      val name = if (nameLen < 2) "" else
        new String(dirBytes, i * 128, nameLen - 2, StandardCharsets.UTF_16LE)
      DirEntry(name, dirBytes(i * 128 + 66) & 0xFF, eb.getInt(i * 128 + 116),
        eb.getInt(i * 128 + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.head
    val target = entries.find(e => e.typ == 2 && names.contains(e.name))
      .getOrElse(throw new IllegalArgumentException(
        s"no ${names.mkString("/")} stream; found ${entries.filter(_.typ == 2).map(_.name).mkString(", ")}"))
    if (target.size >= MiniCutoff) readChain(target.start, target.size)
    else {
      // mini stream: 64-byte sectors inside the root entry's stream
      val container = readChain(root.start, root.size)
      val miniFat = chain(buf.getInt(60), fat).toArray.flatMap(id => ints(sector(id)))
      val bytes = chain(target.start, miniFat).toArray.flatMap { ms =>
        java.util.Arrays.copyOfRange(container, ms * 64, math.min(ms * 64 + 64, container.length))
      }
      java.util.Arrays.copyOf(bytes, target.size.toInt)
    }
  }

  // --------------------------------------------------------------- BIFF8 write

  private val MaxRecordData = 8224
  private val SheetRowLimit = 65535 // data rows; header takes row 0 of 65,536

  private final class RecordWriter {
    val buf = new java.io.ByteArrayOutputStream()
    def rec(typ: Int, data: Array[Byte]): Unit = {
      buf.write(le16(typ)); buf.write(le16(data.length)); buf.write(data)
    }
    def pos: Int = buf.size()
    def bytes: Array[Byte] = buf.toByteArray
  }

  private def bofData(dt: Int): Array[Byte] =
    le16(0x0600) ++ le16(dt) ++ le16(0x0DBB) ++ le16(0x07CC) ++ le(0x41) ++ le(0x06)

  /** XLUnicodeString, always UTF-16 (flags bit0 set) — uniform 2-byte
    * code units make CONTINUE splitting trivial and lossless. Cell text
    * past BIFF8's 32,767-char cap FAILS the write (silent truncation on
    * a write path is data loss); route longer documents to parquet/csv.
    */
  private def encodeString(s: String): Array[Byte] = {
    require(s.length <= 32767,
      s"xls write: cell text of ${s.length} chars exceeds the BIFF8 cell " +
        "limit of 32,767 — refusing to truncate; use parquet/csv for long text")
    le16(s.length) ++ Array(1.toByte) ++ s.getBytes(StandardCharsets.UTF_16LE)
  }

  /** SST + CONTINUE records. Splits at string boundaries when possible;
    * a string that straddles the record cap is split mid-characters with
    * the fresh flags byte BIFF requires at the fragment start.
    */
  private def writeSst(w: RecordWriter, strings: IndexedSeq[String]): Unit = {
    val frags = ArrayBuffer.empty[Array[Byte]] // fragment payloads (SST first, then CONTINUEs)
    var cur = new java.io.ByteArrayOutputStream()
    cur.write(le(strings.length)); cur.write(le(strings.length))
    def flush(): Unit = { frags += cur.toByteArray; cur = new java.io.ByteArrayOutputStream() }
    strings.foreach { s =>
      val enc = encodeString(s)
      if (cur.size() + enc.length <= MaxRecordData) cur.write(enc)
      else if (enc.length <= MaxRecordData) { flush(); cur.write(enc) }
      else {
        // mid-string split: header + first chars, then CONTINUE fragments
        // each re-opening with a flags byte before the remaining chars
        val charBytes = java.util.Arrays.copyOfRange(enc, 3, enc.length)
        var room = MaxRecordData - cur.size() - 3
        room -= room % 2
        if (room < 2) { flush(); room = MaxRecordData - 3; room -= room % 2 }
        cur.write(enc, 0, 3) // cch + flags
        cur.write(charBytes, 0, room)
        var off = room
        while (off < charBytes.length) {
          flush()
          var take = math.min(MaxRecordData - 1, charBytes.length - off)
          take -= take % 2
          cur.write(1) // fragment flags byte: UTF-16
          cur.write(charBytes, off, take)
          off += take
        }
      }
    }
    flush()
    w.rec(0x00FC, frags.head)
    frags.tail.foreach(f => w.rec(0x003C, f))
  }

  /** One BIFF8 Workbook stream: globals + one worksheet substream per
    * rollover chunk, BOUNDSHEET offsets back-patched.
    */
  private[sources] def workbookStream(
      header: Seq[String], rows: Iterator[Seq[Any]], rolloverRows: Int): Array[Byte] = {
    val perSheet = math.min(math.max(rolloverRows, 1), SheetRowLimit)
    // grouped() is the DEFINED way to chunk an iterator (reusing the
    // source after take() is unspecified), and there is no sheet cap:
    // silently dropping rows past a cap would be data loss on a write
    // path
    val sheets = ArrayBuffer.empty[Seq[Seq[Any]]]
    rows.grouped(perSheet).foreach(chunk => sheets += chunk)
    if (sheets.isEmpty) sheets += Seq.empty

    // shared string table over every string cell (header included)
    val sst = ArrayBuffer.empty[String]
    val sstIdx = scala.collection.mutable.HashMap.empty[String, Int]
    def intern(s: String): Int =
      sstIdx.getOrElseUpdate(s, { sst += s; sst.length - 1 })
    header.foreach(intern)
    sheets.foreach(_.foreach(_.foreach {
      case null | _: java.lang.Number | _: java.lang.Boolean => ()
      case other => intern(other.toString)
    }))

    val w = new RecordWriter
    w.rec(0x0809, bofData(0x0005)) // BOF: workbook globals
    w.rec(0x0042, le16(0x04B0)) // CODEPAGE: UTF-16
    w.rec(0x003D, le16(360) ++ le16(270) ++ le16(14940) ++ le16(9150) ++
      le16(0x0038) ++ le16(0) ++ le16(0) ++ le16(1) ++ le16(600)) // WINDOW1
    // minimal FONT + 16 XFs (15 style + 1 cell) so ixfe=15 resolves
    w.rec(0x0031, le16(200) ++ le16(0) ++ le16(0x7FFF) ++ le16(400) ++
      le16(0) ++ Array[Byte](0, 0, 0, 0) ++
      Array(5.toByte, 0.toByte) ++ "Arial".getBytes(StandardCharsets.ISO_8859_1))
    (0 until 16).foreach { i =>
      val style = if (i < 15) 0xFFF5 else 0x0001
      w.rec(0x00E0, le16(0) ++ le16(0) ++ le16(style) ++ Array.fill[Byte](14)(0))
    }
    val boundsheetPatch = sheets.indices.map { i =>
      val at = w.pos + 4 // offset of lbPlyPos inside the record
      val nm = s"Sheet${i + 1}"
      w.rec(0x0085, le(0) ++ le16(0) ++
        Array(nm.length.toByte, 1.toByte) ++ nm.getBytes(StandardCharsets.UTF_16LE))
      at
    }
    writeSst(w, sst.toIndexedSeq)
    w.rec(0x000A, Array.emptyByteArray) // EOF globals

    val sheetOffsets = sheets.map { data =>
      val off = w.pos
      w.rec(0x0809, bofData(0x0010)) // BOF: worksheet
      val nRows = data.length + 1
      w.rec(0x0200, le(0) ++ le(nRows) ++ le16(0) ++ le16(header.length) ++ le16(0)) // DIMENSIONS
      def cell(r: Int, c: Int, v: Any): Unit = v match {
        case null => ()
        case n: java.lang.Number =>
          w.rec(0x0203, le16(r) ++ le16(c) ++ le16(15) ++
            ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(n.doubleValue()).array())
        case b: java.lang.Boolean =>
          w.rec(0x0205, le16(r) ++ le16(c) ++ le16(15) ++
            Array((if (b) 1 else 0).toByte, 0.toByte))
        case other =>
          w.rec(0x00FD, le16(r) ++ le16(c) ++ le16(15) ++ le(sstIdx(other.toString)))
      }
      header.zipWithIndex.foreach { case (h, c) => cell(0, c, h) }
      data.zipWithIndex.foreach { case (vals, r) =>
        vals.zipWithIndex.foreach { case (v, c) => cell(r + 1, c, v) }
      }
      w.rec(0x000A, Array.emptyByteArray)
      off
    }
    val bytes = w.bytes
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    boundsheetPatch.zip(sheetOffsets).foreach { case (at, off) => bb.putInt(at, off) }
    bytes
  }

  private[sources] def xlsBytes(header: Seq[String], rows: Iterator[Seq[Any]], rolloverRows: Int): Array[Byte] =
    cfbBytes("Workbook", workbookStream(header, rows, rolloverRows))

  /** Distributed write: one workbook per partition under `path/`. */
  def write(df: DataFrame, path: String, rolloverRows: Int = SheetRowLimit): Unit = {
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
        val bytes = xlsBytes(header, it.map(_.toSeq), rolloverRows)
        val out = new Path(path, f"part-$pid%05d.xls")
        val os = out.getFileSystem(conf.value).create(out, true)
        try os.write(bytes) finally os.close()
      }
    }
  }

  // --------------------------------------------------------------- BIFF8 read

  /** Reader over SST payload fragments (SST record + CONTINUEs). Plain
    * fields flow across fragment boundaries unchanged; character runs
    * interrupted by a boundary restart with a fresh flags byte, per the
    * BIFF continuation rule.
    */
  private final class FragmentReader(frags: IndexedSeq[Array[Byte]]) {
    private var fi = 0
    private var pos = 0
    private def ensure(): Unit =
      while (fi < frags.length && pos >= frags(fi).length) { fi += 1; pos = 0 }
    def hasMore: Boolean = { ensure(); fi < frags.length }
    // truncated input degrades to zeros / partial strings, never an
    // out-of-bounds crash
    def u8(): Int = { ensure(); if (fi >= frags.length) 0 else { val v = frags(fi)(pos) & 0xFF; pos += 1; v } }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Int = u16() | (u16() << 16)
    def skip(n: Long): Unit = { var i = 0L; while (i < n && hasMore) { u8(); i += 1 } }
    /** Read `cch` characters honoring mid-string fragment restarts. */
    def chars(cch: Int, wideFirst: Boolean): String = {
      val sb = new StringBuilder(cch)
      var wide = wideFirst
      var read = 0
      while (read < cch) {
        ensure()
        if (fi >= frags.length) return sb.toString // truncated: partial string
        val remaining = frags(fi).length - pos
        val unit = if (wide) 2 else 1
        val canRead = math.min(cch - read, remaining / unit)
        if (canRead == 0) {
          // fragment boundary mid-string: next fragment opens with flags
          fi += 1; pos = 0
          if (fi >= frags.length) return sb.toString
          wide = (u8() & 1) == 1
        } else {
          val f = frags(fi)
          var i = 0
          while (i < canRead) {
            val ch = if (wide) (f(pos) & 0xFF | ((f(pos + 1) & 0xFF) << 8)).toChar
              else (f(pos) & 0xFF).toChar
            sb.append(ch)
            pos += unit; i += 1
          }
          read += canRead
          if (read < cch && pos >= f.length) {
            fi += 1; pos = 0
            if (fi >= frags.length) return sb.toString
            wide = (u8() & 1) == 1
          }
        }
      }
      sb.toString
    }
    def xlString(): String = {
      val cch = u16()
      val flags = u8()
      val wide = (flags & 1) == 1
      val rich = (flags & 8) == 8
      val ext = (flags & 4) == 4
      val cRun = if (rich) u16() else 0
      val cbExt = if (ext) u32() else 0
      val s = chars(cch, wide)
      skip(cRun.toLong * 4 + (cbExt.toLong & 0xFFFFFFFFL))
      s
    }
  }

  private def renderNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private[sources] def decodeRk(rk: Int): String = {
    val div100 = (rk & 1) == 1
    val isInt = (rk & 2) == 2
    val v: Double =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    renderNum(if (div100) v / 100 else v)
  }

  /** Parse all sheets of one workbook; header row of every sheet
    * dropped (first sheet's header kept), mirroring [[XlsxSource]].
    */
  private[sources] def parseWorkbook(file: Array[Byte]): (Seq[String], Seq[Seq[String]]) = {
    val stream = cfbStream(file, Set("Workbook", "Book"))
    val bb = ByteBuffer.wrap(stream).order(ByteOrder.LITTLE_ENDIAN)

    var header: Seq[String] = Nil
    val data = ArrayBuffer.empty[Seq[String]]
    var sst: IndexedSeq[String] = IndexedSeq.empty
    var inSheet = false
    // rows of the current sheet, sparse by (row, col)
    var sheetRows = scala.collection.mutable.SortedMap.empty[Int, ArrayBuffer[String]]

    def setCell(r: Int, c: Int, v: String): Unit = {
      val row = sheetRows.getOrElseUpdate(r, ArrayBuffer.empty[String])
      while (row.size <= c) row += null
      row(c) = v
    }
    def flushSheet(): Unit = {
      if (sheetRows.nonEmpty) {
        if (header.isEmpty)
          sheetRows.get(0).foreach(r => header = r.toSeq.map(Option(_).getOrElse("")))
        sheetRows.iterator.foreach { case (ri, row) => if (ri > 0) data += row.toSeq }
      }
      sheetRows = scala.collection.mutable.SortedMap.empty[Int, ArrayBuffer[String]]
    }

    var pos = 0
    var pendingFormulaString = false
    var formulaCell = (0, 0)
    while (pos + 4 <= stream.length) {
      val typ = bb.getShort(pos) & 0xFFFF
      val len = bb.getShort(pos + 2) & 0xFFFF
      val at = pos + 4
      typ match {
        case 0x0809 => // BOF
          val dt = bb.getShort(at + 2) & 0xFFFF
          inSheet = dt == 0x0010
        case 0x000A => // EOF
          if (inSheet) { flushSheet(); inSheet = false }
        case 0x00FC => // SST (+ CONTINUE fragments that follow immediately)
          val frags = ArrayBuffer(java.util.Arrays.copyOfRange(stream, at, at + len))
          var p = at + len
          while (p + 4 <= stream.length && (bb.getShort(p) & 0xFFFF) == 0x003C) {
            val cl = bb.getShort(p + 2) & 0xFFFF
            frags += java.util.Arrays.copyOfRange(stream, p + 4, p + 4 + cl)
            p += 4 + cl
          }
          val fr = new FragmentReader(frags.toIndexedSeq)
          fr.u32() // cstTotal
          val unique = fr.u32()
          sst = (0 until unique).map(_ => fr.xlString())
        case 0x00FD if inSheet => // LABELSST
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          val i = bb.getInt(at + 6)
          setCell(r, c, if (i >= 0 && i < sst.length) sst(i) else null)
        case 0x0204 if inSheet => // LABEL (inline string)
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          val fr = new FragmentReader(IndexedSeq(java.util.Arrays.copyOfRange(stream, at + 6, at + len)))
          setCell(r, c, fr.xlString())
        case 0x0203 if inSheet => // NUMBER
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          setCell(r, c, renderNum(bb.getDouble(at + 6)))
        case 0x027E if inSheet => // RK
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          setCell(r, c, decodeRk(bb.getInt(at + 6)))
        case 0x00BD if inSheet => // MULRK
          val r = bb.getShort(at) & 0xFFFF; val c0 = bb.getShort(at + 2) & 0xFFFF
          val n = (len - 6) / 6
          (0 until n).foreach(i => setCell(r, c0 + i, decodeRk(bb.getInt(at + 4 + i * 6 + 2))))
        case 0x0205 if inSheet => // BOOLERR
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          val isErr = stream(at + 7) != 0
          if (!isErr) setCell(r, c, if (stream(at + 6) != 0) "true" else "false")
        case 0x0006 if inSheet => // FORMULA: cached result
          val r = bb.getShort(at) & 0xFFFF; val c = bb.getShort(at + 2) & 0xFFFF
          if ((bb.getShort(at + 12) & 0xFFFF) == 0xFFFF) {
            stream(at + 6) match {
              case 0 => pendingFormulaString = true; formulaCell = (r, c) // STRING record follows
              case 1 => setCell(r, c, if (stream(at + 8) != 0) "true" else "false")
              case _ => () // error / empty
            }
          } else setCell(r, c, renderNum(bb.getDouble(at + 6)))
        case 0x0207 if inSheet && pendingFormulaString => // STRING (formula result)
          val fr = new FragmentReader(IndexedSeq(java.util.Arrays.copyOfRange(stream, at, at + len)))
          setCell(formulaCell._1, formulaCell._2, fr.xlString())
          pendingFormulaString = false
        case _ => ()
      }
      pos = at + len
    }
    if (sheetRows.nonEmpty) flushSheet() // missing trailing EOF tolerance
    (header, data.toSeq)
  }
}

/** Registry connector: `root/<index>.xls` (directory of per-partition
  * workbooks, or a single workbook file).
  */
final case class XlsConnector(name: String, root: String, rolloverRows: Int = 65535)
    extends Connector {
  private def pathFor(index: String): String = s"$root/$index.xls"
  def read(spark: SparkSession, index: String): DataFrame =
    spark.read.format("xls").load(pathFor(index))
  def write(df: DataFrame, index: String, mode: WriteMode): Unit =
    XlsSource.write(df, pathFor(index), rolloverRows)
  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".xls")
}
