package graft.office

import graft.schema.{Kinds, DocResult, OrderedBlock}

/** Legacy binary-Office tier: OLE2 compound files (`.doc`/`.xls`/`.ppt`,
  * magic `D0 CF 11 E0`). The reference routes these through a
  * LibreOffice-based modern-format conversion
  * (`main.py:616-621` `_convert_legacy_office_bytes`,
  * `old_office_suffixes`); on Spark the blob is parsed directly: a
  * minimal reader of the public MS-CFB container format (header, DIFAT →
  * FAT, directory, miniFAT + root mini stream) plus Word 97 binary text
  * recovery from the `WordDocument` stream — the FIB's `fcMin..fcMac`
  * window, the classic quick-extract path for non-complex files. `.xls` /
  * `.ppt` blobs are CLASSIFIED (their marker streams recognized) and
  * yield an empty document rather than falling through to the tag-soup
  * HTML parser — the mis-route class this tier exists to close. */
object OleConvert {

  def isOle2(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0xd0 && (bytes(1) & 0xff) == 0xcf &&
      (bytes(2) & 0xff) == 0x11 && (bytes(3) & 0xff) == 0xe0 &&
      (bytes(4) & 0xff) == 0xa1 && (bytes(5) & 0xff) == 0xb1 &&
      (bytes(6) & 0xff) == 0x1a && (bytes(7) & 0xff) == 0xe1

  // ---- CFB container reader (MS-CFB, v3 512-byte sectors) -----------------

  private val EndOfChain = 0xfffffffe
  private val FreeSect = 0xffffffff

  /** Compound-file reader: named stream payloads. Chain walks carry a step
    * cap (cycle guard — a corrupt FAT must fail fast, not hang). */
  final class Cfb(buf: Array[Byte]) {
    private def u16(off: Int): Int =
      (buf(off) & 0xff) | ((buf(off + 1) & 0xff) << 8)
    private def u32(off: Int): Int =
      (buf(off) & 0xff) | ((buf(off + 1) & 0xff) << 8) |
        ((buf(off + 2) & 0xff) << 16) | ((buf(off + 3) & 0xff) << 24)

    require(isOle2(buf), "not an OLE2 compound file")
    private val sectorShift = u16(30)
    require(sectorShift >= 7 && sectorShift <= 12, s"bad sector shift $sectorShift")
    private val sz = 1 << sectorShift
    private val miniSz = 1 << u16(32)
    private val miniCutoff = u32(56)
    private val nFat = u32(44)
    private val firstDir = u32(48)
    private val firstMiniFat = u32(60)
    private val nMiniFat = u32(64)
    private val firstDifat = u32(68)

    private def sectorOff(n: Int): Int = 512 + n * sz

    // FAT sector list: 109 header DIFAT entries + the DIFAT sector chain
    private val fatSectors: Vector[Int] = {
      val out = Vector.newBuilder[Int]
      var taken = 0
      var i = 0
      while (i < 109) {
        val v = u32(76 + i * 4)
        if (v != FreeSect && taken < nFat) { out += v; taken += 1 }
        i += 1
      }
      var difat = firstDifat
      var guard = 0
      while (difat != EndOfChain && difat != FreeSect && guard < 1024) {
        val base = sectorOff(difat)
        var j = 0
        while (j < sz / 4 - 1) {
          val v = u32(base + j * 4)
          if (v != FreeSect) out += v
          j += 1
        }
        difat = u32(base + sz - 4)
        guard += 1
      }
      out.result().take(math.max(nFat, 1))
    }

    private val fat: Array[Int] = {
      val out = new Array[Int](fatSectors.length * (sz / 4))
      fatSectors.zipWithIndex.foreach { case (s, k) =>
        val base = sectorOff(s)
        var j = 0
        while (j < sz / 4) { out(k * (sz / 4) + j) = u32(base + j * 4); j += 1 }
      }
      out
    }

    private def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(math.min(size, 1 << 24).toInt + sz)
      var s = start
      var steps = 0
      while (s != EndOfChain && s >= 0 && steps <= fat.length) {
        val off = sectorOff(s)
        require(off + sz <= buf.length, s"sector $s beyond EOF")
        out.write(buf, off, sz)
        s = if (s < fat.length) fat(s) else EndOfChain
        steps += 1
      }
      require(s == EndOfChain || s < 0, "FAT chain cycle")
      val all = out.toByteArray
      if (size >= 0 && size < all.length) java.util.Arrays.copyOfRange(all, 0, size.toInt)
      else all
    }

    private case class DirEntry(name: String, typ: Int, start: Int, size: Long)

    private val entries: Vector[DirEntry] = {
      val dir = readChain(firstDir, -1)
      val out = Vector.newBuilder[DirEntry]
      var i = 0
      while ((i + 1) * 128 <= dir.length) {
        val base = i * 128
        def du16(o: Int) = (dir(base + o) & 0xff) | ((dir(base + o + 1) & 0xff) << 8)
        def du32(o: Int) = du16(o) | (du16(o + 2) << 16)
        val nameLen = du16(64)
        val typ = dir(base + 66) & 0xff
        if (typ != 0 && nameLen >= 2 && nameLen <= 64) {
          val name = new String(dir, base, nameLen - 2, "UTF-16LE")
          out += DirEntry(name, typ, du32(116),
            (du32(120) & 0xffffffffL) | ((du32(124) & 0xffffffffL) << 32))
        }
        i += 1
      }
      out.result()
    }

    private val root = entries.find(_.typ == 5)
      .getOrElse(sys.error("no root storage entry"))

    private val miniFat: Array[Int] =
      if (nMiniFat == 0 || firstMiniFat == EndOfChain) Array.empty
      else {
        val mf = readChain(firstMiniFat, nMiniFat.toLong * sz)
        Array.tabulate(mf.length / 4)(j =>
          (mf(j * 4) & 0xff) | ((mf(j * 4 + 1) & 0xff) << 8) |
            ((mf(j * 4 + 2) & 0xff) << 16) | ((mf(j * 4 + 3) & 0xff) << 24))
      }

    private lazy val miniStream: Array[Byte] = readChain(root.start, root.size)

    private def readMiniChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(size.toInt + miniSz)
      var s = start
      var steps = 0
      while (s != EndOfChain && s >= 0 && steps <= miniFat.length) {
        require((s + 1) * miniSz <= miniStream.length, s"mini sector $s beyond stream")
        out.write(miniStream, s * miniSz, miniSz)
        s = if (s < miniFat.length) miniFat(s) else EndOfChain
        steps += 1
      }
      require(s == EndOfChain || s < 0, "miniFAT chain cycle")
      val all = out.toByteArray
      if (size < all.length) java.util.Arrays.copyOfRange(all, 0, size.toInt) else all
    }

    /** stream name → payload (mini vs regular chain chosen by size). */
    def stream(name: String): Option[Array[Byte]] =
      entries.find(e => e.typ == 2 && e.name == name).map { e =>
        if (e.size < miniCutoff) readMiniChain(e.start, e.size)
        else readChain(e.start, e.size)
      }

    def streamNames: Vector[String] = entries.filter(_.typ == 2).map(_.name)
  }

  // ---- Word 97 binary text ------------------------------------------------

  /** FIB quick-extract: text window `fcMin..fcMac` of the WordDocument
    * stream (Word 97 FIB layout: wIdent 0xA5EC @0, fcMin @24, fcMac @28).
    * Encoding by zero-density heuristic: Word stores either cp1252 bytes
    * or UTF-16LE code units depending on the piece descriptors; a >30%
    * NUL share marks the wide form. Complex (piece-table) files degrade
    * to the same window — the classic antiword-style simple path. */
  private def wordText(wd: Array[Byte]): String = {
    def u16(o: Int) = (wd(o) & 0xff) | ((wd(o + 1) & 0xff) << 8)
    def u32(o: Int) = u16(o) | (u16(o + 2) << 16)
    require(wd.length >= 32 && u16(0) == 0xa5ec, "not a WordDocument FIB")
    val fcMin = u32(24)
    val fcMac = u32(28)
    require(fcMin >= 0 && fcMac >= fcMin && fcMac <= wd.length,
      s"bad text window $fcMin..$fcMac")
    val slice = java.util.Arrays.copyOfRange(wd, fcMin, fcMac)
    if (slice.isEmpty) return ""
    val zeros = slice.count(_ == 0)
    if (zeros * 10 > slice.length * 3) new String(slice, "UTF-16LE")
    else new String(slice, "windows-1252")
  }

  // ---- public API ---------------------------------------------------------

  def convert(docId: String, bytes: Array[Byte]): DocResult = {
    val cfb = new Cfb(bytes)
    val blocks: Vector[OrderedBlock] = cfb.stream("WordDocument") match {
      case Some(wd) =>
        val paras = wordText(wd).split('\r').toVector
          .map(_.filter(c => c >= 0x20 || c == '\t')).filter(_.nonEmpty)
        val out = Vector.newBuilder[OrderedBlock]
        var i = 0
        while (i < paras.length) {
          if (paras(i).startsWith("- ")) {
            // consecutive "- " paragraphs form one list block (the same
            // convention the PDF text tier uses)
            val run = paras.drop(i).takeWhile(_.startsWith("- "))
            out += OrderedBlock.flow(Kinds.ListK, run.map(_.stripPrefix("- ")).mkString("\n"))
            i += run.length
          } else {
            out += (if (i == 0) OrderedBlock.flow(Kinds.Title, paras(i), level = 1)
              else OrderedBlock.flow(Kinds.Text, paras(i)))
            i += 1
          }
        }
        out.result()
      case None =>
        // .xls / .ppt: recognized (classified) but not text-extracted —
        // an empty document, never a soup-parse of binary bytes
        val known = cfb.streamNames.exists(n =>
          n == "Workbook" || n == "Book" || n == "PowerPoint Document")
        require(known || cfb.streamNames.nonEmpty, "empty compound file")
        Vector.empty
    }
    graft.pipeline.Assemble.result(docId, blocks)
  }
}
