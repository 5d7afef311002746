package graft.sources

import graft.SparkSpec
import graft.core.WriteMode
import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** RAR 4.x stored-entry reader spec, over [[RarFixture]] archives. */
class RarSourceSpec extends SparkSpec {
  import spark.implicits._
  import RarFixture.makeRar

  private def writeRar(path: String, members: (String, String)*): Unit = {
    val f = new FileOutputStream(path)
    f.write(makeRar(members: _*)); f.close()
  }

  test("RarSource.members: stored members extract with CRC verification") {
    val rar = makeRar("a.csv" -> "id,v\n1,x\n", "b.txt" -> "hello")
    val ms = RarSource.members(rar)
    assert(ms.map(_._1) == Seq("a.csv", "b.txt"))
    assert(new String(ms(1)._2, StandardCharsets.UTF_8) == "hello")
  }

  test("RarSource.members: corrupt data fails the CRC check loudly") {
    val rar = makeRar("a.csv" -> "id,v\n1,x\n")
    rar(rar.length - 10) = (rar(rar.length - 10) ^ 0x1).toByte // flip a data bit
    val e = intercept[IllegalArgumentException](RarSource.members(rar))
    assert(e.getMessage.contains("CRC mismatch"))
  }

  test("RarSource.members: compressed members fail loudly, not silently") {
    val rar = makeRar("a.csv" -> "id,v\n1,x\n")
    // method byte of the first file header: marker(7) + archive(13) +
    // header offset 25 (base 7 + pack 4 + unp 4 + host 1 + crc 4 + ftime 4 + ver 1)
    val hdr = 7 + 13
    val methodOff = hdr + 25
    assert(rar(methodOff) == 0x30.toByte)
    rar(methodOff) = 0x33.toByte
    // re-seal the header CRC (the parser validates it since round 11 —
    // an unsealed flip would fail THERE, which is its own test below)
    val headSize = (rar(hdr + 5) & 0xff) | ((rar(hdr + 6) & 0xff) << 8)
    val c = new CRC32; c.update(rar, hdr + 2, headSize - 2)
    rar(hdr) = (c.getValue & 0xff).toByte
    rar(hdr + 1) = ((c.getValue >> 8) & 0xff).toByte
    val e = intercept[UnsupportedOperationException](RarSource.members(rar))
    assert(e.getMessage.contains("0x33"))
  }

  test("RarSource.members: a header byte flip fails the header CRC loudly") {
    val rar = makeRar("a.csv" -> "id,v\n1,x\n")
    val methodOff = 7 + 13 + 25
    rar(methodOff) = 0x33.toByte // flip WITHOUT re-sealing HEAD_CRC
    val e = intercept[IllegalArgumentException](RarSource.members(rar))
    assert(e.getMessage.contains("header CRC mismatch"))
  }

  test("RarSource: compressed members delegate to a system extractor when one exists") {
    // The container for CI has no unrar/bsdtar — the test then cancels
    // cleanly (assume) and the loud-failure test above covers the
    // no-tool contract. On a host WITH a tool, the delegation path is
    // exercised against a stored archive (offline we cannot author a
    // genuinely compressed RAR — that needs the proprietary compressor;
    // the tool accepts stored archives through the same code path).
    assume(RarSource.systemTool.isDefined, "no system unrar/bsdtar on PATH")
    val rar = makeRar("a.csv" -> "id,v\n1,x\n")
    val tmp = java.nio.file.Files.createTempFile("spec-rar", ".rar")
    try {
      java.nio.file.Files.write(tmp, rar)
      val body = "id,v\n1,x\n".getBytes(StandardCharsets.UTF_8)
      val crc = new CRC32; crc.update(body)
      val got = RarSource.extractViaSystemTool(tmp, "a.csv", body.length.toLong, crc.getValue)
      assert(got.map(new String(_, StandardCharsets.UTF_8)).contains("id,v\n1,x\n"))
      // declared-size validation: a wrong unpacked size must reject
      assert(RarSource.extractViaSystemTool(tmp, "a.csv", body.length + 1L, crc.getValue).isEmpty)
      // CRC validation: a same-length corruption of the expected digest
      // must reject too (the tool's output is held to the same CRC bar
      // as stored members)
      assert(RarSource.extractViaSystemTool(tmp, "a.csv", body.length.toLong, crc.getValue ^ 1L).isEmpty)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("RarSource.members: rejects non-RAR and RAR5 markers") {
    intercept[IllegalArgumentException](RarSource.members("PKjunk".getBytes))
    // RAR5 marker has an extra 0x01 0x00 — first 7 bytes differ at index 6
    val rar5 = Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x01, 0x00)
    intercept[IllegalArgumentException](RarSource.members(rar5))
  }

  test("""format("rar"): members concatenate, headers dropped, non-csv filtered""") {
    val dir = tmpDir("rars")
    writeRar(s"$dir/t.rar",
      "part1.csv" -> "id,name\n1,alice\n2,\"bob, jr\"\n",
      "part2.csv" -> "id,name\n3,carol\n",
      "notes.txt" -> "ignored non-csv member")
    val df = spark.read.format("rar").load(s"$dir/t.rar")
    assert(df.columns.toSeq == Seq("id", "name"))
    val rows = df.orderBy($"id").as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "alice"), ("2", "bob, jr"), ("3", "carol")))
  }

  test("RarConnector: catalog listing and scan-only contract") {
    val dir = tmpDir("rarconn")
    writeRar(s"$dir/a.rar", "m.csv" -> "c\n1\n")
    writeRar(s"$dir/b.rar", "m.csv" -> "c\n2\n")
    val rc = RarConnector("rar", dir)
    assert(rc.listIndexes(spark) == Seq("a", "b"))
    assert(rc.read(spark, "a").count() == 1)
    intercept[UnsupportedOperationException] {
      rc.write(Seq(1).toDF("c"), "a", WriteMode.Append)
    }
  }
}
