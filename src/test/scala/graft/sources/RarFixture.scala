package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** Builds spec-conformant RARv4 containers (marker + archive header +
  * stored file headers with real CRC32s + end block) — the same public
  * layout `RarSource.members` parses, built independently of it so both
  * directions of the format logic are exercised.
  */
object RarFixture {
  private def u16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def u32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Header CRC: low 16 bits of CRC32 over the header bytes after the
    * HEAD_CRC field (RARv4 rule).
    */
  private def withHeadCrc(rest: Array[Byte]): Array[Byte] = {
    val c = new CRC32
    c.update(rest)
    u16((c.getValue & 0xffff).toInt) ++ rest
  }

  private def block(headType: Int, flags: Int, tail: Array[Byte]): Array[Byte] = {
    val headSize = 7 + tail.length
    withHeadCrc(Array(headType.toByte) ++ u16(flags) ++ u16(headSize) ++ tail)
  }

  /** A RARv4 archive of STORED members (method 0x30). */
  def makeRar(members: (String, String)*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x00)) // marker
    out.write(block(0x73, 0x0000, Array.fill[Byte](6)(0))) // archive header (reserved1/2)
    members.foreach { case (name, text) =>
      val data = text.getBytes(StandardCharsets.UTF_8)
      val nameBytes = name.getBytes(StandardCharsets.UTF_8)
      val crc = new CRC32; crc.update(data)
      val tail =
        u32(data.length.toLong) ++ // PACK_SIZE
          u32(data.length.toLong) ++ // UNP_SIZE
          Array(0x02.toByte) ++ // HOST_OS = unix
          u32(crc.getValue) ++ // FILE_CRC
          u32(0x5a000000L) ++ // FTIME (arbitrary DOS time)
          Array(29.toByte, 0x30.toByte) ++ // UNP_VER, METHOD = stored
          u16(nameBytes.length) ++
          u32(0x81a4) ++ // ATTR
          nameBytes
      out.write(block(0x74, 0x8000, tail)) // LONG_BLOCK: data follows
      out.write(data)
    }
    out.write(block(0x7b, 0x4000, Array.empty)) // end-of-archive
    out.toByteArray
  }
}
