package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** vCard source (reference dataprovider/VcfDataProvider.java:30-301,
  * SURVEY §2.1): `BEGIN:VCARD … END:VCARD` records flattened to scalar
  * columns — N → firstname/lastname, FN → formatted_name, TEL;TYPE →
  * phone_N (+ phone_N_attr), ADR → address_N_<part> columns,
  * quoted-printable values decoded, internal `;` separators replaced
  * with ", ". Base64-encoded properties (PHOTO;ENCODING=b …) decode to
  * raw bytes and surface as `binary` columns — the reference maps vCard
  * `byte[]` values to BLOB (VcfDataProvider.java:83-84).
  */
object VcfSource {

  private def decodeQp(value: String, charset: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < value.length) {
      val c = value.charAt(i)
      val hex = if (c == '=' && i + 2 < value.length) value.substring(i + 1, i + 3) else ""
      if (hex.length == 2 && hex.forall(ch => Character.digit(ch, 16) >= 0)) {
        out.write(Integer.parseInt(hex, 16)); i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, charset)
  }

  /** ADR structured parts in vCard order (RFC 6350 §6.3.1). */
  private val AdrParts =
    Seq("po_box", "extended", "street", "locality", "region", "postal_code", "country")

  private[sources] def parseCards(text: String): Seq[Map[String, Any]] = {
    // unfold continuations (lines beginning with space/tab), then join
    // quoted-printable SOFT line breaks (vCard 2.1: a QP value line
    // ending in '=' continues on the next physical line). The join is
    // stateful and QP-scoped — a blanket '=\n' strip would corrupt
    // base64 lines whose padding '=' happens to end a line.
    val folded = text.replace("\r\n", "\n").replaceAll("\n[ \t]", "")
    val joinedLines = scala.collection.mutable.ArrayBuffer.empty[String]
    var qpCont = false
    folded.split("\n").foreach { line =>
      if (qpCont && joinedLines.nonEmpty) {
        val prev = joinedLines.remove(joinedLines.length - 1)
        joinedLines += prev.dropRight(1) + line // drop the soft-break '='
        qpCont = line.endsWith("=")
      } else {
        joinedLines += line
        qpCont = line.endsWith("=") &&
          line.toUpperCase.contains("ENCODING=QUOTED-PRINTABLE")
      }
    }
    val unfolded = joinedLines.mkString("\n")
    val cards = unfolded.split("(?m)^END:VCARD\\s*$").toSeq
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty)
        .dropWhile(l => !l.equalsIgnoreCase("BEGIN:VCARD")).drop(1))
      .filter(_.nonEmpty)
    cards.map { lines =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      var phoneN = 0
      var adrN = 0
      lines.foreach { line =>
        val idx = line.indexOf(':')
        if (idx > 0) {
          val keyPart = line.substring(0, idx)
          var value = line.substring(idx + 1)
          val keyBits = keyPart.split(";")
          val key = keyBits.head.toUpperCase
          val attrs = keyBits.tail
            .filterNot(_.toUpperCase.startsWith("CHARSET="))
            .filterNot(_.toUpperCase.startsWith("ENCODING=")).mkString(",")
          val charset = keyBits.tail.find(_.toUpperCase.startsWith("CHARSET="))
            .map(_.substring("CHARSET=".length)).getOrElse("UTF-8")
          if (keyBits.exists(_.equalsIgnoreCase("ENCODING=QUOTED-PRINTABLE")))
            value = decodeQp(value, charset)
          val isBase64 = keyBits.exists(b => b.equalsIgnoreCase("ENCODING=B") ||
            b.equalsIgnoreCase("ENCODING=BASE64"))
          if (isBase64) {
            // binary property (PHOTO/LOGO/SOUND …) → raw bytes, BLOB-bound
            m(key.toLowerCase) =
              java.util.Base64.getMimeDecoder.decode(value.replaceAll("\\s", ""))
          } else key match {
            case "N" =>
              val parts = value.split(";", -1)
              if (parts.length > 0 && parts(0).nonEmpty) m("lastname") = parts(0)
              if (parts.length > 1 && parts(1).nonEmpty) m("firstname") = parts(1)
            case "FN" => m("formatted_name") = value
            case "TEL" =>
              phoneN += 1
              m(s"phone_$phoneN") = value
              if (attrs.nonEmpty) m(s"phone_${phoneN}_attr") = attrs
            case "ADR" =>
              adrN += 1
              val parts = value.split(";", -1)
              AdrParts.zipWithIndex.foreach { case (p, i) =>
                if (i < parts.length && parts(i).nonEmpty)
                  // internal separators → ", " (VcfDataProvider flatten)
                  m(s"address_${adrN}_$p") = parts(i).replace("\\n", ", ")
              }
              if (attrs.nonEmpty) m(s"address_${adrN}_attr") = attrs
            case "EMAIL" => m("email") = value
            case "VERSION" | "BEGIN" =>
            case other => m(other.toLowerCase) = value
          }
        }
      }
      m.toMap
    }.filter(_.nonEmpty)
  }

  /** One file per task, decoded with `charset`; union-of-keys schema,
    * a base64 property's column binary.
    */
  def read(spark: SparkSession, path: String, charset: String = "UTF-8"): DataFrame =
    // a leading U+FEFF (a UTF-8 byte-order mark) would hide the first BEGIN:VCARD
    WholeFileFrame.byKeys(spark, path)(b =>
      parseCards(new String(b, charset).stripPrefix("\uFEFF")))
}
