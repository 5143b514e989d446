package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Excel 2007+ (.xlsx) source (reference
  * dataprovider/ExcelDataProvider.java:37-606, SURVEY §2.1): OOXML is a
  * zip of XML parts — parsed here with ZipInputStream + StAX only (no
  * POI in this environment). Supports sheet selection by name (`-dp`,
  * default first sheet), shared & inline strings, header row or
  * `column_N`, blank→null, trailing-empty-row trimming. Values surface
  * as strings and are typed downstream by the mapping/inference pass
  * (the reference's typed-cell reads collapse to the same post-cast).
  *
  * Legacy binary .xls (BIFF8) routes to [[XlsSource]] (native CFB+BIFF
  * reader); this class handles only the OOXML container.
  *
  * Scale model: one workbook = one task (`binaryFile`), like the
  * reference's single stream; many files parallelize.
  */
object XlsxSource {

  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val z = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
    var e = z.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = z.readAllBytes()
      e = z.getNextEntry
    }
    out.toMap
  }

  private def xmlReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  private def sharedStrings(bytes: Option[Array[Byte]]): IndexedSeq[String] = {
    bytes match {
      case None => IndexedSeq.empty
      case Some(b) =>
        val r = xmlReader(b)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var inSi = false
        var inT = false
        try while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "t" if inSi => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT => cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => inSi = false; out += cur.toString
              case _ =>
            }
          case _ =>
        } finally r.close()
        out.toIndexedSeq
    }
  }

  /** Date-style detection (reference typed date cells,
    * ExcelDataProvider.java:281-282): cellXf indexes in styles.xml whose
    * numFmtId is a builtin date format (14-22, 45-47) or a custom format
    * containing date tokens.
    */
  private def dateStyles(bytes: Option[Array[Byte]]): Set[Int] = bytes match {
    case None => Set.empty
    case Some(b) =>
      val r = xmlReader(b)
      val customDate = scala.collection.mutable.Set.empty[Int]
      val xfs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var inCellXfs = false
      try while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            val id = Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt).getOrElse(-1)
            val code = Option(r.getAttributeValue(null, "formatCode")).getOrElse("")
            // date-ish tokens outside [] sections AND quoted literals —
            // '0" days"' is a number format, not a date
            if (code.replaceAll("\\[[^\\]]*\\]", "")
                .replaceAll("\"[^\"]*\"", "").exists("ymdhs".contains(_)))
              customDate += id
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfs += Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt).getOrElse(0)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      } finally r.close()
      val builtinDate = (14 to 22).toSet ++ (45 to 47).toSet
      xfs.zipWithIndex.collect {
        case (fmt, i) if builtinDate(fmt) || customDate(fmt) => i
      }.toSet
  }

  /** Excel serial date/time → ISO string (1900 date system). */
  private[sources] def serialToIso(serial: Double): String = {
    // day 1 = 1900-01-01. Excel's phantom 1900-02-29 occupies serial 60,
    // so serials BEFORE it count from 1899-12-31 and later ones from
    // 1899-12-30 — one fixed epoch would put Jan/Feb 1900 a day early.
    val days = serial.toLong
    val frac = serial - days
    val epoch = if (days < 60) java.time.LocalDate.of(1899, 12, 31)
                else java.time.LocalDate.of(1899, 12, 30)
    val date = epoch.plusDays(days)
    if (frac < 1e-9) date.toString
    else {
      val secs = math.round(frac * 86400)
      date.atStartOfDay().plusSeconds(secs).toString.replace('T', ' ')
    }
  }

  /** sheet name → worksheet part path, in workbook order. */
  private def sheetTargets(parts: Map[String, Array[Byte]]): Seq[(String, String)] = {
    val rels = parts.get("xl/_rels/workbook.xml.rels").map { b =>
      val r = xmlReader(b)
      val m = scala.collection.mutable.Map.empty[String, String]
      try while (r.hasNext) if (r.next() == XMLStreamConstants.START_ELEMENT &&
        r.getLocalName == "Relationship")
        m(r.getAttributeValue(null, "Id")) = r.getAttributeValue(null, "Target")
      finally r.close()
      m.toMap
    }.getOrElse(Map.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    parts.get("xl/workbook.xml").foreach { b =>
      val r = xmlReader(b)
      try while (r.hasNext) if (r.next() == XMLStreamConstants.START_ELEMENT &&
        r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id")
          .map(r.getAttributeValue).getOrElse("")
        val target = rels.getOrElse(rid, s"worksheets/sheet${out.size + 1}.xml")
        val path = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
        out += ((name, path))
      } finally r.close()
    }
    out.toSeq
  }

  /** `"BC12"` → 0-based column index 54. */
  private[sources] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
  }

  /** Parse one worksheet into rows of cell strings. */
  private def parseSheet(bytes: Array[Byte], shared: IndexedSeq[String],
                         dateXfs: Set[Int]): Seq[IndexedSeq[String]] = {
    val r = xmlReader(bytes)
    val rows = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    var cur: scala.collection.mutable.ArrayBuffer[String] = null
    var cellRef = ""
    var cellType = ""
    var cellStyle = -1
    var inV = false
    var inIs = false
    val v = new StringBuilder
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => cur = scala.collection.mutable.ArrayBuffer.empty
        case "c" if cur != null =>
          cellRef = Option(r.getAttributeValue(null, "r")).getOrElse("")
          cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
          cellStyle = Option(r.getAttributeValue(null, "s")).map(_.toInt).getOrElse(-1)
          v.clear()
        case "v" => inV = true
        case "is" => inIs = true
        case "t" if inIs => inV = true
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS if inV => v.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" if inIs => inV = false
        case "is" => inIs = false
        case "c" if cur != null =>
          val idx = if (cellRef.nonEmpty) colIndex(cellRef) else cur.size
          while (cur.size <= idx) cur += null
          val raw = v.toString
          cur(idx) = cellType match {
            case "s" => if (raw.isEmpty) null
              else shared.lift(raw.toInt).orNull
            case "b" => if (raw == "1") "true" else "false"
            case _ =>
              if (raw.isEmpty) null
              // date-styled numeric cells surface as ISO strings, like
              // the reference's typed Date cells
              else if (dateXfs.contains(cellStyle) && raw.forall(c =>
                c.isDigit || c == '.' || c == '-'))
                try serialToIso(raw.toDouble) catch { case _: Exception => raw }
              else raw
          }
        case "row" => rows += cur.toIndexedSeq; cur = null
        case _ =>
      }
      case _ =>
    } finally r.close()
    // trailing-empty-row trimming (ExcelDataProvider behavior)
    rows.reverse.dropWhile(r => r.forall(x => x == null || x.isEmpty)).reverse.toSeq
  }

  /** Parse workbook bytes → (headers?, rows) of the selected sheet. */
  private[sources] def parseWorkbook(bytes: Array[Byte], sheetName: Option[String],
                                     header: Boolean): (IndexedSeq[String], Seq[IndexedSeq[String]]) = {
    require(bytes.length >= 2 && bytes(0) == 'P'.toByte && bytes(1) == 'K'.toByte,
      "not an OOXML (.xlsx) workbook — legacy .xls (BIFF) is handled by XlsSource")
    val parts = zipEntries(bytes)
    val sheets = sheetTargets(parts)
    require(sheets.nonEmpty, "workbook has no sheets")
    val (_, path) = sheetName match {
      case Some(n) => sheets.find(_._1 == n)
        .getOrElse(throw new IllegalArgumentException(s"no sheet named $n"))
      case None => sheets.head
    }
    val shared = sharedStrings(parts.get("xl/sharedStrings.xml"))
    val dates = dateStyles(parts.get("xl/styles.xml"))
    WholeFileFrame.headed(parseSheet(parts(path), shared, dates), header)
  }

  /** One workbook per task; `sheetName` = the reference's `-dp`. */
  def read(spark: SparkSession, path: String, sheetName: Option[String] = None,
           header: Boolean = true): DataFrame =
    WholeFileFrame.byHeader(spark, path)(b => parseWorkbook(b, sheetName, header))
}
