package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Minimal OLE Compound File Binary (MS-CFB, the public [MS-CFB] spec) —
  * the container format of encrypted Office documents. An encrypted
  * `.xlsx` is NOT a ZIP: it is a CFB file holding two streams,
  * `EncryptionInfo` (the crypto descriptor) and `EncryptedPackage` (the
  * AES-encrypted real ZIP). JDK-only, like [[XlsxParser]].
  *
  * Reader: v3 (512-byte sectors), FAT + DIFAT chains, and the 64-byte
  * mini-stream for streams under the 4096 cutoff — enough for any
  * real-world encrypted workbook. Directory entries are scanned linearly
  * (the red-black sibling tree is an access-path optimization readers
  * don't need).
  *
  * Writer: the fixture/output path — streams are padded to the 4096
  * cutoff so everything lives in regular sectors (trailing zero padding
  * is invisible to consumers, which read declared byte counts). */
object OleCfb {

  val Magic: Array[Byte] =
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)

  def isCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes.take(8).sameElements(Magic)

  private val SectorSize = 512
  private val MiniSectorSize = 64
  private val MiniCutoff = 4096
  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  // ------------------------------------------------------------ reader

  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  private final case class DirEntry(name: String, objType: Int,
                                    startSector: Int, size: Long)

  /** All streams of the container: name → content bytes. */
  def readStreams(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    require(isCfb(bytes), "not a CFB container")
    val buf = le(bytes)
    val sectorShift = buf.getShort(30)
    require(sectorShift == 9, s"unsupported CFB sector size: 2^$sectorShift")
    val numFatSectors = buf.getInt(44)
    val firstDirSector = buf.getInt(48)
    val firstMiniFat = buf.getInt(60)
    val firstDifat = buf.getInt(68)
    val numDifat = buf.getInt(72)

    def sector(id: Int): Array[Byte] = {
      val off = SectorSize + id * SectorSize
      java.util.Arrays.copyOfRange(bytes, off, math.min(off + SectorSize, bytes.length))
    }
    // FAT sector ids: 109 DIFAT slots in the header + DIFAT chain sectors
    val fatSectorIds = ArrayBuffer.empty[Int]
    for (i <- 0 until math.min(109, numFatSectors))
      fatSectorIds += buf.getInt(76 + i * 4)
    var difat = firstDifat
    var guard = 0
    while (difat != EndOfChain && difat != FreeSect && guard <= numDifat) {
      val s = le(sector(difat))
      for (i <- 0 until (SectorSize / 4 - 1)) {
        val v = s.getInt(i * 4)
        if (v != FreeSect && fatSectorIds.length < numFatSectors) fatSectorIds += v
      }
      difat = s.getInt(SectorSize - 4)
      guard += 1
    }
    val fat = fatSectorIds.flatMap { sid =>
      val s = le(sector(sid)); (0 until SectorSize / 4).map(i => s.getInt(i * 4))
    }.toArray

    def chain(start: Int, table: Array[Int]): Seq[Int] = {
      val out = ArrayBuffer.empty[Int]
      var cur = start
      while (cur != EndOfChain && cur != FreeSect && cur >= 0 && out.length <= table.length) {
        out += cur
        cur = table(cur)
      }
      out.toSeq
    }

    // directory entries (128 bytes each) from the directory chain
    val dirBytes = chain(firstDirSector, fat).toArray.flatMap(sector)
    val entries = dirBytes.grouped(128).filter(_.length == 128).map { e =>
      val eb = le(e)
      val nameLen = eb.getShort(64) & 0xFFFF
      val name = if (nameLen >= 2)
        new String(e, 0, nameLen - 2, StandardCharsets.UTF_16LE) else ""
      // [MS-CFB] §2.6.1: for v3 files the high 32 bits of the stream size
      // may hold garbage from nonconforming writers — use only the low 32
      // (sector shift 9 is required above, so this is always a v3 file)
      DirEntry(name, e(66) & 0xFF, eb.getInt(116), eb.getLong(120) & 0xFFFFFFFFL)
    }.toSeq

    val root = entries.find(_.objType == 5).getOrElse(
      throw new IllegalArgumentException("CFB: no root directory entry"))
    // the mini stream is the ROOT entry's stream (FAT-chained)
    lazy val miniStream: Array[Byte] = chain(root.startSector, fat).toArray.flatMap(sector)
    lazy val miniFat: Array[Int] = chain(firstMiniFat, fat).toArray.flatMap { sid =>
      val s = le(sector(sid)); (0 until SectorSize / 4).map(i => s.getInt(i * 4))
    }

    entries.filter(e => e.objType == 2 && e.size > 0).map { e =>
      val content =
        if (e.size < MiniCutoff) {
          val data = chain(e.startSector, miniFat).toArray.flatMap { mid =>
            val off = mid * MiniSectorSize
            java.util.Arrays.copyOfRange(miniStream, off,
              math.min(off + MiniSectorSize, miniStream.length))
          }
          data.take(e.size.toInt)
        } else chain(e.startSector, fat).toArray.flatMap(sector).take(e.size.toInt)
      e.name -> content
    }.toMap
  }

  // ------------------------------------------------------------ writer

  /** Write streams into a fresh CFB container. Streams are zero-padded to
    * the 4096 mini-cutoff AND declared at the padded size (a sub-cutoff
    * declared size would imply mini-stream storage), so the writer never
    * needs a mini-FAT. Callers must make their content padding-tolerant:
    * [[OfficeCrypto]] pads its XML with spaces and bounds the package by
    * its own plaintext-length header. */
  def writeStreams(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val padded = streams.map { case (n, b) =>
      (n, b, math.max(b.length, MiniCutoff))
    }
    // layout: [header][dir sectors][stream sectors...][FAT sectors]
    val dirEntries = 1 + streams.length
    val dirSectors = (dirEntries * 128 + SectorSize - 1) / SectorSize
    val streamSectors = padded.map { case (_, _, p) => (p + SectorSize - 1) / SectorSize }
    val dataSectors = dirSectors + streamSectors.sum
    // FAT ids beyond the 109 header-DIFAT slots go into DIFAT chain
    // sectors (127 ids + a next pointer each); FAT must also cover the
    // FAT and DIFAT sectors themselves, so solve for a fixed point
    def difatFor(f: Int): Int = if (f <= 109) 0 else (f - 109 + 126) / 127
    var fatSectors = 1
    while ((dataSectors + fatSectors + difatFor(fatSectors)) > fatSectors * (SectorSize / 4))
      fatSectors += 1
    val difatSectors = difatFor(fatSectors)
    val totalSectors = dataSectors + fatSectors + difatSectors

    val fat = Array.fill(fatSectors * (SectorSize / 4))(FreeSect)
    var next = 0
    def allocChain(n: Int): Int = {
      val start = next
      for (i <- 0 until n) fat(next + i) = if (i == n - 1) EndOfChain else next + i + 1
      next += n
      start
    }
    val dirStart = allocChain(dirSectors)
    val streamStarts = streamSectors.map(allocChain)
    val fatStart = next
    for (i <- 0 until fatSectors) fat(fatStart + i) = 0xFFFFFFFD // FATSECT marker
    next += fatSectors
    val difatStart = next
    for (i <- 0 until difatSectors) fat(difatStart + i) = 0xFFFFFFFC // DIFSECT marker
    next += difatSectors
    require(next == totalSectors)

    val out = ByteBuffer.allocate(SectorSize + totalSectors * SectorSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    // header
    out.put(Magic)
    out.position(24)
    out.putShort(0x003E.toShort) // minor
    out.putShort(0x0003.toShort) // major (v3)
    out.putShort(0xFFFE.toShort) // byte order
    out.putShort(9)              // sector shift
    out.putShort(6)              // mini sector shift
    out.position(44)
    out.putInt(fatSectors)
    out.putInt(dirStart)
    out.putInt(0)                // transaction
    out.putInt(MiniCutoff)
    out.putInt(EndOfChain)       // first mini FAT sector (none)
    out.putInt(0)                // num mini FAT sectors
    out.putInt(if (difatSectors > 0) difatStart else EndOfChain)
    out.putInt(difatSectors)
    for (i <- 0 until 109)
      out.putInt(if (i < fatSectors) fatStart + i else FreeSect)

    def putDirEntry(name: String, objType: Int, child: Int,
                    leftRight: (Int, Int), start: Int, size: Long): Array[Byte] = {
      val e = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      val nameBytes = name.getBytes(StandardCharsets.UTF_16LE)
      require(nameBytes.length <= 62, s"stream name too long: $name")
      e.put(nameBytes)
      e.position(64)
      e.putShort((nameBytes.length + 2).toShort)
      e.put(objType.toByte)
      e.put(1.toByte) // black
      e.putInt(leftRight._1); e.putInt(leftRight._2); e.putInt(child)
      e.position(116)
      e.putInt(start)
      e.putLong(size)
      e.array()
    }
    // directory sector(s): root + streams, degenerate sibling chain
    val dir = ByteBuffer.allocate(dirSectors * SectorSize).order(ByteOrder.LITTLE_ENDIAN)
    dir.put(putDirEntry("Root Entry", 5, child = 1, leftRight = (-1, -1),
      start = EndOfChain, size = 0))
    for (((name, _, p), i) <- padded.zipWithIndex) {
      val right = if (i < padded.length - 1) i + 2 else -1
      dir.put(putDirEntry(name, 2, child = -1, leftRight = (-1, right),
        start = streamStarts(i), size = p.toLong))
    }
    while (dir.remaining() >= 128) // unused entries
      dir.put(putDirEntry("", 0, -1, (-1, -1), FreeSect, 0))

    out.position(SectorSize + dirStart * SectorSize)
    out.put(dir.array())
    for (((_, b, p), i) <- padded.zipWithIndex) {
      out.position(SectorSize + streamStarts(i) * SectorSize)
      out.put(b)
      // rest of the chain stays zero (allocate() zero-fills)
      val _ = p
    }
    out.position(SectorSize + fatStart * SectorSize)
    fat.foreach(out.putInt)
    // DIFAT chain: FAT ids 109.. in runs of 127, each sector ending with
    // the next DIFAT sector id (EndOfChain on the last)
    for (di <- 0 until difatSectors) {
      out.position(SectorSize + (difatStart + di) * SectorSize)
      for (j <- 0 until (SectorSize / 4 - 1)) {
        val fatIdx = 109 + di * (SectorSize / 4 - 1) + j
        out.putInt(if (fatIdx < fatSectors) fatStart + fatIdx else FreeSect)
      }
      out.putInt(if (di < difatSectors - 1) difatStart + di + 1 else EndOfChain)
    }
    out.array()
  }
}
