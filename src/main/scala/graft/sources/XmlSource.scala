package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import java.io.StringReader

import org.apache.spark.sql.{DataFrame, SparkSession}

/** XML source (reference dataprovider/XmlDataProvider.java:40-349,
  * SURVEY §2.1): streaming StAX parse of
  * `<list><entry><col>v</col>…</entry>…</list>`, with an optional `-dp`
  * slash path walked down to the list tag and a null-string token.
  *
  * Scale model: one XML document is inherently one stream, so
  * parallelism is *across files* — each file is one task, decoded with
  * the `-e` charset and parsed with a pull parser (constant memory),
  * exactly the reference's streaming behavior but N files at a time.
  */
object XmlSource {

  /** Parse one document: returns (column-order, rows) where each row is
    * colName → text. Child elements of each entry flatten to columns
    * (XmlDataProvider.java:157-184).
    */
  private[sources] def parseDocument(xml: String, dataPath: Option[String],
                                     nullToken: Option[String]): Seq[Map[String, String]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new StringReader(xml))
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    try {
      // walk to the list element: either the -dp path, or the root itself
      val want = dataPath.map(_.split("/").filter(_.nonEmpty).toList)
      var depthPath = List.empty[String]
      var inList = false
      var listDepth = -1
      var entryCols: scala.collection.mutable.LinkedHashMap[String, String] = null
      var colName: String = null
      val text = new StringBuilder
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val name = r.getLocalName
            depthPath = depthPath :+ name
            if (!inList) {
              val here = depthPath.drop(1) // ignore the root tag name for -dp walk
              val matches = want match {
                case Some(p) => here == p
                case None => depthPath.length == 1
              }
              if (matches) { inList = true; listDepth = depthPath.length }
            } else if (depthPath.length == listDepth + 1) {
              entryCols = scala.collection.mutable.LinkedHashMap.empty
            } else if (depthPath.length == listDepth + 2 && entryCols != null) {
              colName = name; text.clear()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (colName != null) text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            if (inList && depthPath.length == listDepth + 2 && colName != null) {
              val v = text.toString
              val vv = if (nullToken.contains(v)) null else v
              entryCols(colName) = vv
              colName = null
            } else if (inList && depthPath.length == listDepth + 1 && entryCols != null) {
              out += entryCols.toMap
              entryCols = null
            } else if (inList && depthPath.length == listDepth) {
              // the selected list element closed: a later sibling at the
              // same depth (e.g. an <audit> next to the -dp list) must
              // not have its children collected as rows
              inList = false
            }
            depthPath = depthPath.dropRight(1)
          case _ =>
        }
      }
    } finally r.close()
    out.toSeq
  }

  /** Read one-or-many XML files (glob ok): each file is a task; the
    * column set is the union of observed tags, name-sorted.
    */
  def read(spark: SparkSession, path: String, dataPath: Option[String] = None,
           nullToken: Option[String] = None, charset: String = "UTF-8"): DataFrame =
    WholeFileFrame.byKeys(spark, path)(b =>
      parseDocument(new String(b, charset), dataPath, nullToken))
}
