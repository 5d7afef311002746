package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import org.apache.spark.sql.functions._

class XlsSpec extends SparkSpec {
  import spark.implicits._

  test("round-trip: types, nulls, unicode (incl. surrogate pairs)") {
    val dir = tmpDir("xls-rt")
    val df = Seq(
      (1L, "plain", 1.5, true),
      (2L, "<tag> & \"quoted\"", -0.25, false),
      (3L, "新闻 😀", 0.0, true),
      (4L, null.asInstanceOf[String], 9.75, false),
    ).toDF("id", "name", "score", "flag")
    XlsSource.write(df, s"$dir/t.xls")
    val back = spark.read.format("xls").load(s"$dir/t.xls")
    assert(back.columns.toSeq == Seq("id", "name", "score", "flag"))
    val rows = back
      .select($"id".cast("long"), $"name", $"score".cast("double"), $"flag".cast("boolean"))
      .as[(Long, String, Double, Boolean)].collect().sortBy(_._1)
    assert(rows.length == 4)
    assert(rows(1)._2 == "<tag> & \"quoted\"")
    assert(rows(2)._2 == "新闻 😀")
    assert(rows(3)._2 == null)
    assert(rows.map(_._3).toSeq == Seq(1.5, -0.25, 0.0, 9.75))
    assert(rows.map(_._4).toSeq == Seq(true, false, true, false))
  }

  test("sheet rollover: >rolloverRows rows split across sheets in one workbook") {
    val dir = tmpDir("xls-roll")
    val df = (1 to 25).map(i => (i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
    XlsSource.write(df, s"$dir/t.xls", rolloverRows = 10)
    val files = new java.io.File(s"$dir/t.xls").listFiles().filter(_.getName.endsWith(".xls"))
    assert(files.length == 1)
    val (_, rows) = XlsSource.parseWorkbook(
      java.nio.file.Files.readAllBytes(files.head.toPath))
    assert(rows.length == 25)
    val back = spark.read.format("xls").load(s"$dir/t.xls")
    assert(back.select($"id".cast("long")).as[Long].collect().sorted.toSeq == (1L to 25L))
  }

  test("multi-partition write → one workbook per partition, parallel read") {
    val dir = tmpDir("xls-mp")
    val df = (1 to 40).map(i => (i.toLong, s"n$i")).toDF("id", "v").repartition(4)
    XlsSource.write(df, s"$dir/t.xls")
    val files = new java.io.File(s"$dir/t.xls").listFiles().filter(_.getName.endsWith(".xls"))
    assert(files.length == 4)
    assert(spark.read.format("xls").load(s"$dir/t.xls").count() == 40)
  }

  test("SST CONTINUE: workbook with >8224 bytes of strings round-trips, incl. one giant string") {
    // many distinct strings force string-boundary splits; one 6k-char
    // string in the middle forces a mid-string split with fragment flags
    val giant = ("γ" * 3000) + ("x" * 3000)
    val vals = (1 to 2000).map(i => (i.toLong, if (i == 1000) giant else s"string-value-$i"))
    val dir = tmpDir("xls-sst")
    XlsSource.write(vals.toDF("id", "v").coalesce(1), s"$dir/t.xls")
    val back = spark.read.format("xls").load(s"$dir/t.xls")
      .select($"id".cast("long"), $"v").as[(Long, String)].collect().sortBy(_._1)
    assert(back.length == 2000)
    assert(back(999)._2 == giant)
    assert(back(0)._2 == "string-value-1")
    assert(back(1998)._2 == "string-value-1999")
  }

  test("RK and MULRK cells decode (hand-built sheet records)") {
    // 102.5 → RK with div-100 flag over integer 10250; 7 → RK integer
    val rkInt = (10250 << 2) | 2 | 1 // integer flag + div-100 flag
    val rk7 = (7 << 2) | 2
    // 1.25 has zero low-order mantissa bits → RK float encoding
    val bits = java.lang.Double.doubleToLongBits(1.25)
    val rkFloat = ((bits >>> 32) & 0xFFFFFFFCL).toInt
    assert(XlsSource.decodeRk(rkInt) == "102.5")
    assert(XlsSource.decodeRk(rk7) == "7")
    assert(XlsSource.decodeRk(rkFloat) == "1.25")
  }

  test("mini-FAT: stream below the 4096-byte cutoff is readable") {
    // our writer pads past the cutoff, so build a mini-FAT container by
    // hand: stream lives in 64-byte mini sectors inside the root stream
    val payload = "mini stream payload".getBytes("UTF-8")
    val bytes = miniCfb("Workbook", payload)
    assert(XlsSource.cfbStream(bytes, Set("Workbook")).sameElements(payload))
  }

  /** Minimal CFB with the named stream stored via mini-FAT: sector 0 =
    * FAT, 1 = directory, 2 = mini-FAT, 3 = mini-stream container.
    */
  private def miniCfb(name: String, payload: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.charset.StandardCharsets
    val Free = 0xFFFFFFFF; val End = 0xFFFFFFFE; val FatS = 0xFFFFFFFD
    val miniSectors = (payload.length + 63) / 64
    require(miniSectors * 64 <= 512, "test helper: payload must fit one container sector")
    val out = ByteBuffer.allocate(512 * 5).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    out.position(24)
    out.putShort(0x3E.toShort); out.putShort(3.toShort)
    out.putShort(0xFFFE.toShort); out.putShort(9.toShort); out.putShort(6.toShort)
    out.position(44)
    out.putInt(1)     // one FAT sector
    out.putInt(1)     // first directory sector
    out.putInt(0)
    out.putInt(4096)  // mini cutoff
    out.putInt(2)     // first mini-FAT sector
    out.putInt(1)     // mini-FAT sector count
    out.putInt(End); out.putInt(0)
    out.putInt(0)     // DIFAT[0] = FAT sector id 0
    (1 until 109).foreach(_ => out.putInt(Free))
    // FAT (sector 0)
    out.position(512)
    Seq(FatS, End, End, End).foreach(out.putInt)
    (4 until 128).foreach(_ => out.putInt(Free))
    // directory (sector 1)
    out.position(512 * 2)
    def dirEntry(nm: String, typ: Int, child: Int, start: Int, size: Int): Unit = {
      val base = out.position()
      val utf16 = nm.getBytes(StandardCharsets.UTF_16LE)
      out.put(utf16)
      out.position(base + 64)
      out.putShort(if (nm.isEmpty) 0 else (utf16.length + 2).toShort)
      out.put(typ.toByte); out.put(1.toByte)
      out.putInt(Free); out.putInt(Free); out.putInt(child)
      out.position(base + 116)
      out.putInt(start); out.putInt(size)
      out.position(base + 128)
    }
    dirEntry("Root Entry", 5, child = 1, start = 3, size = miniSectors * 64)
    dirEntry(name, 2, child = Free, start = 0, size = payload.length)
    dirEntry("", 0, Free, Free, 0); dirEntry("", 0, Free, Free, 0)
    // mini-FAT (sector 2): chain of mini sectors 0..miniSectors-1
    out.position(512 * 3)
    (0 until miniSectors).foreach(i => out.putInt(if (i == miniSectors - 1) End else i + 1))
    (miniSectors until 128).foreach(_ => out.putInt(Free))
    // mini-stream container (sector 3)
    out.position(512 * 4)
    out.put(payload)
    out.array()
  }

  test("DIFAT chaining: container for a >7MB stream (FAT past the header's 109 slots) round-trips") {
    // 8 MiB stream → ~129 FAT sectors → header DIFAT overflows into a
    // chained DIFAT sector; the repo's own reader walks the chain back
    val stream = Array.tabulate[Byte](8 << 20)(i => (i * 31 + (i >> 13)).toByte)
    val container = XlsSource.cfbBytes("Workbook", stream)
    assert(XlsSource.cfbStream(container, Set("Workbook")).sameElements(stream))
  }

  test("cell text past the BIFF8 32,767-char cap fails the write instead of truncating") {
    val e = intercept[IllegalArgumentException] {
      XlsSource.workbookStream(Seq("v"), Iterator(Seq("x" * 40000)), 65535)
    }
    assert(e.getMessage.contains("32,767"))
    // at the cap exactly: still writes
    XlsSource.workbookStream(Seq("v"), Iterator(Seq("y" * 32767)), 65535)
  }

  test("read schema comes from the path-ordered first workbook (deterministic header)") {
    // every per-file format: the file written second sorts first and wins
    def csv(header: Seq[String]) = header.mkString(",") + "\n1,2\n"
    def zip(header: Seq[String]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("m.csv"))
      z.write(csv(header).getBytes("UTF-8"))
      z.close()
      bos.toByteArray
    }
    val formats: Seq[(String, Seq[String] => Array[Byte])] = Seq(
      "xls" -> (h => XlsSource.xlsBytes(h, Iterator(Seq("1", "2")), 65535)),
      "xlsx" -> (h => XlsxSource.workbookBytes(h, Iterator(Seq("1", "2")), 500000)),
      "zip" -> zip,
      "rar" -> (h => RarFixture.makeRar("m.csv" -> csv(h))))
    formats.foreach { case (ext, bytes) =>
      val dir = new java.io.File(tmpDir(s"$ext-order") + s"/t.$ext")
      dir.mkdirs()
      def put(name: String, header: Seq[String]): Unit =
        java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes(header))
      put(s"b-second.$ext", Seq("zcol1", "zcol2"))
      put(s"a-first.$ext", Seq("acol1", "acol2"))
      val back = spark.read.format(ext).load(dir.toString)
      assert(back.columns.toSeq == Seq("acol1", "acol2"), ext)
      assert(back.count() == 2, ext)
    }
  }

  test("XlsConnector registry protocol") {
    val c = XlsConnector("xls", tmpDir("xls-conn"))
    c.write(Seq((1, "a")).toDF("id", "v"), "t1", WriteMode.Overwrite)
    c.write(Seq((2, "b"), (3, "c")).toDF("id", "v"), "t2", WriteMode.Overwrite)
    assert(c.listIndexes(spark) == Seq("t1", "t2"))
    assert(c.read(spark, "t2").count() == 2)
  }
}
