package graft.sources

import graft.core.{Connector, WriteMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** RAR 4.x container reader (S17's rar half — `RarD`,
  * `/root/reference/d22d/utils/db/__init__.py:676-694`, which extracts a
  * rar and parses each member file as CSV lines).
  *
  * Dependency-free subset: parses the public RARv4 block structure
  * (marker → archive header → file headers, little-endian fields,
  * CRC32-checked data) and extracts members with method 0x30 = STORED.
  * RAR's compressed methods (0x31-0x35) are a proprietary LZSS/PPMd
  * family with no pure-JVM decoder available offline — those members
  * delegate to a system `unrar`/`bsdtar` when one is on PATH (the
  * reference's own strategy), and otherwise fail loudly rather than
  * silently skipping, so a user never gets a partial table. Encrypted
  * members and RAR5 (8-byte marker) likewise fail loudly.
  *
  * Scale shape: identical to [[ZipSource]] — read through
  * `spark.read.format("rar")`, one input partition per archive, member
  * extraction + CSV parse in executors (rar is not splittable; a 100 TB
  * corpus should land as many medium archives).
  */
object RarSource {

  private val Marker = Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x00)

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (u16(b, off) & 0xffffL) | ((u16(b, off + 2) & 0xffffL) << 16)

  /** All members of a RARv4 archive as (name, bytes). Directories are
    * skipped; stored members are CRC-verified; anything this subset
    * cannot faithfully extract throws.
    */
  def members(content: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(content.length >= 7 && Marker.indices.forall(i => content(i) == Marker(i)),
      "not a RAR 4.x archive (bad marker; RAR5/SFX unsupported)")
    val out = Seq.newBuilder[(String, Array[Byte])]
    // the archive lands in ONE lazily-created temp file shared by every
    // delegated member (per-member rewrites would cost O(members ×
    // archive size) disk traffic), deleted when parsing ends
    var toolTmp: Option[java.nio.file.Path] = None
    def archiveTmp(): java.nio.file.Path = toolTmp.getOrElse {
      val t = java.nio.file.Files.createTempFile("graft-rar", ".rar")
      java.nio.file.Files.write(t, content)
      toolTmp = Some(t); t
    }
    try {
    var pos = 7
    var done = false
    while (!done && pos + 7 <= content.length) {
      val headType = content(pos + 2) & 0xff
      val flags = u16(content, pos + 3)
      val headSize = u16(content, pos + 5)
      require(headSize >= 7, s"corrupt RAR header at offset $pos (size $headSize)")
      require(pos + headSize <= content.length, s"truncated RAR header at $pos")
      // HEAD_CRC (RARv4 rule: low 16 bits of CRC32 over the header
      // bytes after the CRC field) — validated so a corrupted header
      // fails loudly instead of silently mis-parsing a name, a size
      // field, or a method byte (round-11 fuzz hardening; data bytes
      // were already CRC-checked, header bytes were not)
      val headCrc = new CRC32
      headCrc.update(content, pos + 2, headSize - 2)
      require((headCrc.getValue & 0xffffL) == (u16(content, pos) & 0xffffL),
        f"RAR header CRC mismatch at offset $pos")
      // LONG_BLOCK (0x8000): data of ADD_SIZE bytes follows the header.
      // For file headers that field IS the packed size.
      val addSize =
        if ((flags & 0x8000) != 0) {
          require(pos + 11 <= content.length, s"truncated RAR header at $pos")
          u32(content, pos + 7)
        } else 0L
      headType match {
        case 0x74 => // file header
          require(pos + 32 <= content.length, s"truncated file header at $pos")
          val packSize = u32(content, pos + 7)
          val unpSize = u32(content, pos + 11)
          val method = content(pos + 25) & 0xff
          val nameSize = u16(content, pos + 26)
          require((flags & 0x100) == 0, "RAR >4GB (LHD_LARGE) members unsupported")
          require((flags & 0x04) == 0, "encrypted RAR members unsupported")
          val nameOff = pos + 32
          require(nameOff + nameSize <= content.length, s"truncated file name at $pos")
          val nameBytes = content.slice(nameOff, nameOff + nameSize)
          // LHD_UNICODE (0x200): name is ascii NUL encoded-unicode; take
          // the ascii half (members we read are data files with ascii names)
          val zero = nameBytes.indexOf(0.toByte)
          val name = new String(
            if ((flags & 0x200) != 0 && zero >= 0) nameBytes.take(zero) else nameBytes,
            StandardCharsets.UTF_8)
          val isDir = (flags & 0xe0) == 0xe0
          val dataOff = pos + headSize
          require(dataOff + packSize <= content.length, s"truncated member data for $name")
          if (!isDir) {
            if (method != 0x30) {
              // compressed member: RAR's LZSS/PPMd family has no
              // pure-JVM decoder offline — delegate to a system
              // extractor if one exists (the reference shells out to
              // unrar the same way, d22d/utils/db/__init__.py:662-694),
              // else keep the loud failure (never a silent skip)
              out += name -> extractViaSystemTool(archiveTmp(), name, unpSize,
                expectedCrc = u32(content, pos + 16)).getOrElse(
                throw new UnsupportedOperationException(
                  f"RAR member '$name' uses compression method 0x$method%02x; " +
                    "system unrar/bsdtar delegation " +
                    (if (systemTool.isEmpty) "unavailable (no tool on PATH)"
                     else "failed") +
                    " — only STORED (0x30) members extract without it"))
            } else {
              require(packSize == unpSize, s"stored member $name has packSize != unpSize")
              val data = content.slice(dataOff, dataOff + packSize.toInt)
              val crc = new CRC32
              crc.update(data)
              val expected = u32(content, pos + 16)
              require(crc.getValue == expected,
                f"CRC mismatch for RAR member '$name': got ${crc.getValue}%08x want $expected%08x")
              out += name -> data
            }
          }
          pos = dataOff + packSize.toInt
        case 0x7b => // end-of-archive
          done = true
        case _ => // marker/archive header/comment/sub-blocks: skip
          // validate before the Long→Int narrowing: a crafted ADD_SIZE
          // near 2^32 would otherwise wrap negative and stall (advance
          // by 0) or crash with AIOOBE instead of failing loudly
          require(addSize >= 0 && pos + headSize + addSize <= content.length,
            s"corrupt RAR skip block at $pos (addSize=$addSize)")
          pos += headSize + addSize.toInt
      }
    }
    out.result()
    } finally toolTmp.foreach(java.nio.file.Files.deleteIfExists)
  }

  /** First available system RAR extractor, probed once per JVM:
    * (binary, args building a "print member to stdout" invocation).
    * `unrar p -inul <archive> <member>` or `bsdtar -xOf <archive>
    * <member>` — both stream the member body to stdout.
    */
  private[sources] lazy val systemTool: Option[(String, (String, String) => Seq[String])] = {
    def onPath(bin: String): Boolean =
      sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparatorChar)
        .exists(d => new java.io.File(d, bin).canExecute)
    // `--` ends switch parsing in both tools: an untrusted member name
    // like '-inul' or '--use-compress-program=…' must never be read as
    // an option (switch injection)
    if (onPath("unrar"))
      Some(("unrar", (a, m) => Seq("unrar", "p", "-inul", "--", a, m)))
    else if (onPath("bsdtar"))
      Some(("bsdtar", (a, m) => Seq("bsdtar", "-xOf", a, "--", m)))
    else None
  }

  /** Extract one compressed member by shelling out to the system tool
    * (the reference's own strategy for this format) against the
    * already-written archive temp file; stdout is the member body,
    * accepted only when it is exactly the header's declared unpacked
    * size AND its CRC32 matches the header's unpacked-data CRC (the
    * same validation stored members get) — a truncated extraction, a
    * tool error, a same-length corruption, or a wildcard-shaped member
    * name matching extra members (unrar globs names) must not silently
    * yield wrong rows. The child is hard-bounded: a wedged extractor on
    * an untrusted archive is destroyed after a size-proportional
    * timeout (60 s + 1 s per 10 MB declared) rather than hanging the
    * executor task forever. None when no tool is installed or the
    * output fails any validation — caller decides how loud to be.
    */
  private[sources] def extractViaSystemTool(
      archive: java.nio.file.Path, member: String, unpSize: Long,
      expectedCrc: Long): Option[Array[Byte]] =
    systemTool.flatMap { case (_, argv) =>
      try {
        // stderr DISCARDED, not piped: an undrained pipe can fill and
        // deadlock the child; merging it into stdout would corrupt the
        // member body
        val proc = new ProcessBuilder(argv(archive.toString, member): _*)
          .redirectError(ProcessBuilder.Redirect.DISCARD).start()
        // watchdog covers the stdout read too — the bounded read blocks
        // until cap bytes or EOF, so waitFor(timeout) alone can't
        // unwedge a child that stalls while its pipe stays open
        val timeoutMs = 60000L + unpSize / 10485L
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        val killer = new java.util.Timer("graft-rar-watchdog", true)
        killer.schedule(new java.util.TimerTask {
          def run(): Unit = { proc.destroyForcibly(); () }
        }, timeoutMs)
        try {
          // Memory is bounded by the HEADER'S claim, not by what the
          // child chooses to write: a misbehaving extractor spewing
          // gigabytes before the watchdog fires must hit a cap, not
          // grow the buffer until the executor OOMs. unpSize+1 is
          // enough to detect "longer than declared" (the extra byte
          // fails the exact-length check below) without buffering the
          // excess; a declared size too big for a byte array is
          // rejected up front without reading at all.
          val cap = unpSize + 1
          val body =
            if (unpSize < 0 || cap > Int.MaxValue - 8) { proc.destroyForcibly(); Array.empty[Byte] }
            else proc.getInputStream.readNBytes(cap.toInt)
          if (body.length.toLong == cap) proc.destroyForcibly() // overlong: stop the spew
          // waitFor gets the REMAINDER of the budget, not a fresh
          // window — read + exit share one deadline
          val remainMs = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
          val exited = proc.waitFor(remainMs, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (!exited) proc.destroyForcibly()
          val crc = new CRC32
          crc.update(body)
          // acceptance never consults the watchdog: a kill mid-stream
          // already shows up as a short body / CRC mismatch / nonzero
          // exit, and gating on a "timed out" flag would let the timer
          // racing a just-under-deadline success veto a valid member
          if (exited && proc.exitValue == 0 &&
              body.length.toLong == unpSize && crc.getValue == expectedCrc) Some(body)
          else None
        } finally killer.cancel()
      } catch { case _: java.io.IOException => None }
    }

  /** One archive → (header, rows) of its CSV members ([[CsvMembers]]),
    * the `parse` behind `spark.read.format("rar")`.
    */
  def parse(content: Array[Byte]): (Seq[String], Seq[Seq[String]]) =
    CsvMembers.table(members(content).iterator.collect {
      case (name, body) if CsvMembers.isCsv(name) => body
    })
}

/** Registry connector: `root/<index>.rar` archives of CSVs. Scan-only,
  * like the reference's `RarD`.
  */
final case class RarConnector(name: String, root: String) extends Connector {
  def read(spark: SparkSession, index: String): DataFrame =
    spark.read.format("rar").load(s"$root/$index.rar")
  def write(df: DataFrame, index: String, mode: WriteMode): Unit =
    throw new UnsupportedOperationException("rar connector is scan-only (S17)")
  def listIndexes(spark: SparkSession): Seq[String] = Listing.indexes(spark, root, ".rar")
}
