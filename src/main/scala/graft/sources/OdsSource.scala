package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** OpenDocument Spreadsheet (.ods) source (reference
  * dataprovider/OdsDataProvider.java:25-436, SURVEY §2.1): content.xml
  * inside the zip, walked at
  * `document-content/body/spreadsheet/table` with sheet selection by
  * name. Typed cells surface via their office attributes
  * (`office:value`, `office:date-value`, `office:boolean-value`) exactly
  * like the reference's typed reads (OdsDataProvider.java:176-179);
  * string cells from the nested `text:p`. `table:number-columns-repeated`
  * is expanded.
  */
object OdsSource {

  private def contentXml(bytes: Array[Byte]): Array[Byte] = {
    val z = new ZipInputStream(new ByteArrayInputStream(bytes))
    var e = z.getNextEntry
    while (e != null) {
      if (e.getName == "content.xml") return z.readAllBytes()
      e = z.getNextEntry
    }
    throw new IllegalArgumentException("no content.xml — not an ODS file")
  }

  private[sources] def parseContent(bytes: Array[Byte], sheetName: Option[String],
                                    header: Boolean): (IndexedSeq[String], Seq[IndexedSeq[String]]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(contentXml(bytes)))
    val rows = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    var inWantedTable = false
    var tableSeen = false
    var cur: scala.collection.mutable.ArrayBuffer[String] = null
    var cellValue: String = null
    var cellRepeat = 1
    var rowRepeat = 1
    var inP = false
    val p = new StringBuilder
    def attr(name: String): Option[String] =
      (0 until r.getAttributeCount).find(i => r.getAttributeLocalName(i) == name)
        .map(r.getAttributeValue)
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "table" =>
          val name = attr("name").getOrElse("")
          inWantedTable = sheetName match {
            case Some(n) => name == n
            case None => !tableSeen
          }
          if (inWantedTable) tableSeen = true
        case "table-row" if inWantedTable =>
          cur = scala.collection.mutable.ArrayBuffer.empty
          rowRepeat = attr("number-rows-repeated").map(_.toInt).getOrElse(1)
        case "covered-table-cell" if cur != null =>
          // placeholder under a merged cell: still a grid position —
          // skipping it would shift every later cell left
          val rep = attr("number-columns-repeated").map(_.toInt).getOrElse(1)
          (0 until math.min(rep, 4096)).foreach(_ => cur += null)
        case "table-cell" if cur != null =>
          cellRepeat = attr("number-columns-repeated").map(_.toInt).getOrElse(1)
          // typed cells carry their value as an office attribute
          cellValue = attr("date-value")
            .orElse(attr("time-value"))
            .orElse(attr("boolean-value"))
            .orElse(attr("value"))
            .orNull
          p.clear(); inP = false
        case "p" if cur != null => inP = true
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS if inP => p.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "p" => inP = false
        case "table-cell" if cur != null =>
          val v = if (cellValue != null) cellValue
            else if (p.nonEmpty) p.toString else null
          (0 until math.min(cellRepeat, 4096)).foreach(_ => cur += v)
          cellValue = null
        case "table-row" if cur != null =>
          // rows-repeated compresses identical consecutive rows. Fully
          // blank rows are skipped outright (same semantics as blank
          // CSV lines — and trailing grid filler carries repeat counts
          // in the millions, which must never expand); non-blank rows
          // expand with a sanity cap.
          val row = cur.toIndexedSeq
          if (!row.forall(x => x == null || x.isEmpty))
            (0 until math.min(rowRepeat, 65536)).foreach(_ => rows += row)
          cur = null; rowRepeat = 1
        case "table" => inWantedTable = false
        case _ =>
      }
      case _ =>
    } finally r.close()
    // trim trailing/leading blank padding cells per row
    val trimmed = rows.reverse
      .dropWhile(r => r.forall(x => x == null || x.isEmpty)).reverse
      .map(_.reverse.dropWhile(x => x == null || x.isEmpty).reverse.toIndexedSeq)
      .filter(_.nonEmpty).toSeq
    WholeFileFrame.headed(trimmed, header)
  }

  def read(spark: SparkSession, path: String, sheetName: Option[String] = None,
           header: Boolean = true): DataFrame =
    WholeFileFrame.byHeader(spark, path)(b => parseContent(b, sheetName, header))
}
