package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Legacy Excel 97-2003 (.xls, BIFF8) source — the reference reads these
  * via POI HSSF (dataprovider/ExcelDataProvider.java, SURVEY §2.1); this
  * is a dependency-free implementation of the public formats: the CFB
  * (OLE2 compound file, MS-CFB spec) container with regular and mini-FAT
  * chains, and the BIFF8 record stream (MS-XLS spec): BOUNDSHEET sheet
  * directory, SST shared strings, LABELSST/LABEL/NUMBER/RK/MULRK/BLANK
  * cells. Values surface as strings (numbers via minimal repr) and are
  * typed downstream by mapping/inference like every other graft source.
  *
  * Date-styled numeric cells (XF numFmtId in the builtin date range or
  * a custom FORMAT with date tokens) convert to ISO strings like the
  * reference's typed Date cells. SST string tables spanning CONTINUE
  * records are handled (including the compressed/wide width switch at
  * each continuation boundary). Encrypted workbooks decrypt via
  * [[XlsCrypto]] given a password — standard RC4, RC4 CryptoAPI
  * (128/40-bit), and XOR obfuscation ([[XlsXor]]) FILEPASS variants.
  */
object XlsSource {

  // ------------------------------------------------------------- CFB
  private def u16(b: Array[Byte], o: Int) = ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8))
  private def u32(b: Array[Byte], o: Int) = ((b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
    ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24))

  private val EndOfChain = 0xFFFFFFFEL

  /** Extract a named stream from a CFB container. */
  private[sources] def cfbStream(bytes: Array[Byte], wanted: Set[String]): Array[Byte] = {
    require(bytes.length >= 512 &&
      u32(bytes, 0) == 0xE011CFD0L && u32(bytes, 4) == 0xE11AB1A1L,
      "not an OLE2/CFB file (legacy .xls)")
    val sectorSize = 1 << u16(bytes, 30)
    val miniSectorSize = 1 << u16(bytes, 32)
    val numFat = u32(bytes, 44).toInt
    val firstDir = u32(bytes, 48)
    val miniCutoff = u32(bytes, 56)
    val firstMiniFat = u32(bytes, 60)
    val numMiniFat = u32(bytes, 64).toInt
    def sector(i: Long): Array[Byte] =
      bytes.slice(512 + (i * sectorSize).toInt, 512 + ((i + 1) * sectorSize).toInt)
    // DIFAT: first 109 FAT sector ids live in the header; larger files
    // continue the DIFAT in its own sector chain (header offsets 68/72)
    val headerFat = (0 until math.min(numFat, 109))
      .map(i => u32(bytes, 76 + i * 4)).filter(_ < EndOfChain)
    val extraFat = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var difat = u32(bytes, 68)
      var guard = 0
      while (difat < EndOfChain && guard < 4096) {
        val sec = sector(difat)
        val perSector = sectorSize / 4 - 1
        (0 until perSector).map(i => u32(sec, i * 4))
          .filter(_ < EndOfChain).foreach(out += _)
        difat = u32(sec, perSector * 4) // last entry chains to next DIFAT
        guard += 1
      }
      out.toSeq
    }
    val fatSectors = (headerFat ++ extraFat).take(numFat)
    val fat: Array[Long] = fatSectors.toArray.flatMap { fs =>
      val s = sector(fs)
      (0 until sectorSize / 4).map(i => u32(s, i * 4))
    }
    def chain(start: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var cur = start
      var guard = 0
      while (cur < EndOfChain && guard < fat.length + 1) {
        out.write(sector(cur))
        cur = fat(cur.toInt)
        guard += 1
      }
      out.toByteArray
    }
    // directory entries (128 bytes each)
    val dir = chain(firstDir)
    case class Entry(name: String, start: Long, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val o = i * 128
      val nameLen = u16(dir, o + 64)
      val name = if (nameLen >= 2)
        new String(dir.slice(o, o + nameLen - 2), "UTF-16LE") else ""
      Entry(name, u32(dir, o + 116), u32(dir, o + 120))
    }
    val root = entries.headOption.getOrElse(throw new IllegalArgumentException("empty CFB"))
    val e = entries.find(x => wanted.contains(x.name))
      .getOrElse(throw new IllegalArgumentException(
        s"no workbook stream; streams = ${entries.map(_.name).filter(_.nonEmpty)}"))
    if (e.size >= miniCutoff) chain(e.start).take(e.size.toInt)
    else {
      // mini stream: sectors of 64 bytes inside the root entry's chain
      val miniFat: Array[Long] = {
        val out = new java.io.ByteArrayOutputStream()
        var cur = firstMiniFat
        var n = 0
        while (cur < EndOfChain && n < numMiniFat) { out.write(sector(cur)); cur = fat(cur.toInt); n += 1 }
        val b = out.toByteArray
        (0 until b.length / 4).map(i => u32(b, i * 4)).toArray
      }
      val miniStream = chain(root.start)
      val out = new java.io.ByteArrayOutputStream()
      var cur = e.start
      var guard = 0
      while (cur < EndOfChain && guard < miniFat.length + 1) {
        out.write(miniStream.slice((cur * miniSectorSize).toInt,
          ((cur + 1) * miniSectorSize).toInt))
        cur = miniFat(cur.toInt)
        guard += 1
      }
      out.toByteArray.take(e.size.toInt)
    }
  }

  // ------------------------------------------------------------ BIFF8
  private def decodeXlUnicode(b: Array[Byte], off: Int): (String, Int) = {
    val len = u16(b, off)
    val flags = b(off + 2) & 0xff
    val wide = (flags & 1) != 0
    val rich = (flags & 8) != 0
    val ext = (flags & 4) != 0
    var o = off + 3
    val richCount = if (rich) { val c = u16(b, o); o += 2; c } else 0
    val extLen = if (ext) { val c = u32(b, o).toInt; o += 4; c } else 0
    val s =
      if (wide) { val str = new String(b.slice(o, o + len * 2), "UTF-16LE"); o += len * 2; str }
      else { val str = new String(b.slice(o, o + len), "ISO-8859-1"); o += len; str }
    o += richCount * 4 + extLen
    (s, o - off)
  }

  /** Cursor over the SST record body plus its CONTINUE record bodies.
    * BIFF8 splits an oversized SST (> 8224-byte record cap) across
    * CONTINUE records; structure fields may fall on a boundary, and when
    * CHARACTER data crosses one, the continuation restarts with a fresh
    * option-flags byte — the string can switch between compressed and
    * UTF-16 mid-string (MS-XLS 2.5.293 XLUnicodeRichExtendedString).
    */
  private final class SstCursor(segs: IndexedSeq[Array[Byte]]) {
    private var si = 0
    private var off = 0
    private def ensure(): Unit =
      while (si < segs.length && off >= segs(si).length) { si += 1; off = 0 }
    def u8(): Int = { ensure(); val v = segs(si)(off) & 0xff; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        ensure()
        val take = math.min(left, segs(si).length - off)
        off += take; left -= take
      }
    }
    def hasMore: Boolean = { ensure(); si < segs.length }
    /** Read `n` characters, re-reading the option-flags byte (and thus
      * possibly switching width) at every continuation boundary crossed
      * mid-string.
      */
    def readChars(n: Int, wideInit: Boolean): String = {
      val sb = new StringBuilder
      var left = n
      var wide = wideInit
      while (left > 0) {
        ensure()
        require(si < segs.length, s"SST truncated: $left chars missing")
        // a continuation entered mid-string restarts with a fresh
        // option-flags byte (the width may switch) — including when the
        // boundary fell between the string header and its FIRST char
        if (off == 0 && si > 0) wide = (u8() & 1) != 0
        val bytesPerChar = if (wide) 2 else 1
        val avail = (segs(si).length - off) / bytesPerChar
        val take = math.min(left, avail)
        val raw = segs(si).slice(off, off + take * bytesPerChar)
        sb ++= (if (wide) new String(raw, "UTF-16LE") else new String(raw, "ISO-8859-1"))
        off += take * bytesPerChar
        left -= take
        if (left > 0 && avail == 0) off = segs(si).length // malformed odd tail
      }
      sb.toString
    }
  }

  private[sources] def decodeRk(rk: Long): String = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v: Double =
      if (isInt) (rk.toInt >> 2).toDouble // ARITHMETIC shift: sign-extend negatives
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    numRepr(if (div100) v / 100.0 else v)
  }

  private def numRepr(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Parse the workbook stream: (sheetName → rows of (row, col, value)). */
  private[sources] def parseWorkbookStream(wb: Array[Byte]): Seq[(String, Seq[(Int, Int, String)])] = {
    case class Sheet(name: String, bofOffset: Int)
    val sheets = scala.collection.mutable.ArrayBuffer.empty[Sheet]
    val sst = scala.collection.mutable.ArrayBuffer.empty[String]
    val xfFormats = scala.collection.mutable.ArrayBuffer.empty[Int]
    val customDateFmts = scala.collection.mutable.Set.empty[Int]
    // pass 1: globals — BOUNDSHEET + SST + XF/FORMAT (typed dates)
    var o = 0
    var depth = 0
    while (o + 4 <= wb.length) {
      val id = u16(wb, o)
      val len = u16(wb, o + 2)
      val body = o + 4
      id match {
        case 0x0809 => depth += 1
        case 0x000A => depth -= 1; if (depth <= 0) o = wb.length // end of globals
        case 0x0085 if depth == 1 =>
          val bof = u32(wb, body).toInt
          // sheet name: 8-bit length + flags byte then chars
          val nameLen = wb(body + 6) & 0xff
          val wide = (wb(body + 7) & 1) != 0
          val name = if (wide)
            new String(wb.slice(body + 8, body + 8 + nameLen * 2), "UTF-16LE")
          else new String(wb.slice(body + 8, body + 8 + nameLen), "ISO-8859-1")
          sheets += Sheet(name, bof)
        case 0x00E0 if depth == 1 => // XF: numFmtId at offset 2
          xfFormats += u16(wb, body + 2)
        case 0x041E if depth == 1 => // FORMAT: custom code
          val fmtId = u16(wb, body)
          val (code, _) = decodeXlUnicode(wb, body + 2)
          if (code.exists("ymdhs".contains(_))) customDateFmts += fmtId
        case 0x00FC if depth == 1 =>
          // SST body + all immediately-following CONTINUE record bodies
          // form one logical stream (MS-XLS 2.4.265 + 2.4.58)
          val segs = scala.collection.mutable.ArrayBuffer(wb.slice(body, body + len))
          var q = body + len
          while (q + 4 <= wb.length && u16(wb, q) == 0x003C) {
            val clen = u16(wb, q + 2)
            segs += wb.slice(q + 4, q + 4 + clen)
            q += 4 + clen
          }
          val cur = new SstCursor(segs.toIndexedSeq)
          cur.u32() // total refs
          val unique = cur.u32().toInt
          var i = 0
          while (i < unique && cur.hasMore) {
            val cch = cur.u16()
            val flags = cur.u8()
            val richCount = if ((flags & 8) != 0) cur.u16() else 0
            val extLen = if ((flags & 4) != 0) cur.u32().toInt else 0
            sst += cur.readChars(cch, (flags & 1) != 0)
            cur.skip(richCount * 4 + extLen)
            i += 1
          }
        case _ =>
      }
      if (o < wb.length) o = body + len
    }
    val builtinDate = (14 to 22).toSet ++ (45 to 47).toSet
    val dateXf = xfFormats.zipWithIndex.collect {
      case (fmt, i) if builtinDate(fmt) || customDateFmts(fmt) => i
    }.toSet
    def maybeDate(xf: Int, repr: String): String =
      if (dateXf.contains(xf))
        try XlsxSource.serialToIso(repr.toDouble) catch { case _: Exception => repr }
      else repr
    // pass 2: per sheet, walk records from its BOF to EOF
    sheets.toSeq.map { sh =>
      val cells = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      var p = sh.bofOffset
      var inSheet = 0
      var done = false
      while (!done && p + 4 <= wb.length) {
        val id = u16(wb, p)
        val len = u16(wb, p + 2)
        val b = p + 4
        id match {
          case 0x0809 => inSheet += 1
          case 0x000A => inSheet -= 1; if (inSheet <= 0) done = true
          case 0x00FD => // LABELSST
            cells += ((u16(wb, b), u16(wb, b + 2),
              sst.lift(u32(wb, b + 6).toInt).orNull))
          case 0x0204 => // LABEL (inline)
            val (s, _) = decodeXlUnicode(wb, b + 6)
            cells += ((u16(wb, b), u16(wb, b + 2), s))
          case 0x0203 => // NUMBER (xf at +4; date-styled → ISO)
            val bits = ByteBuffer.wrap(wb, b + 6, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
            cells += ((u16(wb, b), u16(wb, b + 2), maybeDate(u16(wb, b + 4), numRepr(bits))))
          case 0x027E => // RK
            cells += ((u16(wb, b), u16(wb, b + 2),
              maybeDate(u16(wb, b + 4), decodeRk(u32(wb, b + 6)))))
          case 0x00BD => // MULRK: row, firstCol, (xf+rk)*, lastCol
            val row = u16(wb, b)
            val first = u16(wb, b + 2)
            val n = (len - 6) / 6
            (0 until n).foreach { i =>
              cells += ((row, first + i,
                maybeDate(u16(wb, b + 4 + i * 6), decodeRk(u32(wb, b + 4 + i * 6 + 2)))))
            }
          case 0x0201 => // BLANK
            cells += ((u16(wb, b), u16(wb, b + 2), null))
          case _ =>
        }
        p = b + len
      }
      sh.name -> cells.toSeq
    }
  }

  private[sources] def parseWorkbook(bytes: Array[Byte], sheetName: Option[String],
                                     header: Boolean,
                                     password: Option[String] = None): (IndexedSeq[String], Seq[IndexedSeq[String]]) = {
    val raw = cfbStream(bytes, Set("Workbook", "Book"))
    // encrypted workbook (FILEPASS near the stream head) → standard-RC4
    // decrypt before record parsing; FILEPASS itself is then ignored
    val wb =
      if (XlsCrypto.findFilePass(raw).isDefined) {
        val pw = password.getOrElse(
          throw new IllegalArgumentException(".xls is encrypted — password required"))
        XlsCrypto.decryptWorkbookStream(raw, pw)
      } else raw
    val all = parseWorkbookStream(wb)
    require(all.nonEmpty, ".xls has no sheets")
    val (_, cells) = sheetName match {
      case Some(n) => all.find(_._1 == n)
        .getOrElse(throw new IllegalArgumentException(s"no sheet named $n"))
      case None => all.head
    }
    if (cells.isEmpty) return (IndexedSeq.empty, Seq.empty)
    val maxCol = cells.map(_._2).max
    val byRow = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      val arr = Array.fill[String](maxCol + 1)(null)
      cs.foreach { case (_, c, v) => arr(c) = v }
      arr.toIndexedSeq
    }
    WholeFileFrame.headed(
      byRow.reverse.dropWhile(_.forall(v => v == null || v.isEmpty)).reverse, header)
  }

  def read(spark: SparkSession, path: String, sheetName: Option[String] = None,
           header: Boolean = true, password: Option[String] = None): DataFrame =
    WholeFileFrame.byHeader(spark, path)(b => parseWorkbook(b, sheetName, header, password))
}
