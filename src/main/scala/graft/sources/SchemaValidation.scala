package graft.sources

import java.io.{File, FileInputStream, InputStreamReader, PushbackReader}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Pre-read schema-validation passes (SURVEY §2.1): the reference
  * validates the WHOLE source stream against a user-supplied schema
  * before a single row is imported, and aborts the import with the
  * schema error — JSON-schema for JSON sources
  * (JsonDataProvider.java:286-302), XSD for XML sources
  * (XmlDataProvider.java:289-308). Validation is a driver-side gate on
  * the source file, not a distributed pass: it runs once per file
  * before the read plan is built.
  */
object SchemaValidation {

  /** XSD validation via the JDK's `javax.xml.validation`; error message
    * shape mirrors XmlDataProvider.java:302. The data decodes with
    * `charset` (the CLI's `-e`), as the import that follows does.
    */
  def validateXsd(dataFile: String, xsdFile: String, charset: String = "UTF-8"): Unit = {
    checkSchemaFile(xsdFile, "XSD")
    try {
      val factory = javax.xml.validation.SchemaFactory
        .newInstance(javax.xml.XMLConstants.W3C_XML_SCHEMA_NS_URI)
      // same hardening as the reference's reader: no DTDs, no external
      // entities (XmlDataProvider.java:292-294)
      factory.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
      factory.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_SCHEMA, "")
      val schema = factory.newSchema(new File(xsdFile))
      val validator = schema.newValidator()
      val in = new PushbackReader(new InputStreamReader(new FileInputStream(dataFile), charset))
      try {
        // a Reader keeps a byte-order mark as U+FEFF, which the parser rejects
        val c = in.read()
        if (c >= 0 && c != '\uFEFF') in.unread(c)
        validator.validate(new javax.xml.transform.stream.StreamSource(in))
      } finally in.close()
    } catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"XML data does not comply to XSD '$xsdFile': ${e.getMessage}")
    }
  }

  /** JSON-schema validation of the whole document; error message shape
    * mirrors JsonDataProvider.java:300. Core draft keywords: `type`,
    * `enum`, `const`, `properties`, `required`, `additionalProperties`,
    * `items`, `minItems`/`maxItems`, `minLength`/`maxLength`,
    * `pattern`, `minimum`/`maximum`. The data decodes with `charset` (the
    * CLI's `-e`), as the import that follows does.
    */
  def validateJsonSchema(dataFile: String, schemaFile: String,
                         charset: String = "UTF-8"): Unit = {
    checkSchemaFile(schemaFile, "JSON-Schema")
    val om = new ObjectMapper()
    val err =
      try {
        val schema = om.readTree(new File(schemaFile))
        val in = new InputStreamReader(new FileInputStream(dataFile), charset)
        val data = try om.readTree(in) finally in.close()
        check(data, schema, "$")
      } catch {
        case e: Exception => Some(e.getMessage)
      }
    err.foreach { msg =>
      throw new IllegalArgumentException(
        s"JSON data does not comply to JSON schema '$schemaFile': $msg")
    }
  }

  /** Reference's schema-file pre-checks (JsonDataProvider.java:286-293). */
  private def checkSchemaFile(path: String, kind: String): Unit = {
    val f = new File(path)
    if (!f.exists) throw new IllegalArgumentException(s"$kind file does not exist: $path")
    if (f.isDirectory) throw new IllegalArgumentException(s"$kind path is a directory: $path")
    if (f.length == 0) throw new IllegalArgumentException(s"$kind file is empty: $path")
  }

  /** First violation as Some(message), None if valid. */
  private def check(node: JsonNode, schema: JsonNode, path: String): Option[String] = {
    if (!schema.isObject) return None
    def fail(msg: String) = Some(s"$path: $msg")

    val typeOk = Option(schema.get("type")).flatMap { t =>
      val wanted = if (t.isArray) t.elements.asScala.map(_.asText).toSeq else Seq(t.asText)
      val actual =
        if (node.isTextual) "string"
        else if (node.isIntegralNumber) "integer"
        else if (node.isNumber) "number"
        else if (node.isBoolean) "boolean"
        else if (node.isArray) "array"
        else if (node.isObject) "object"
        else "null"
      // JSON-schema: integers satisfy "number"
      val ok = wanted.contains(actual) || (actual == "integer" && wanted.contains("number"))
      if (ok) None else fail(s"expected type ${wanted.mkString("/")}, got $actual")
    }
    if (typeOk.isDefined) return typeOk

    Option(schema.get("enum")).foreach { e =>
      if (!e.elements.asScala.contains(node))
        return fail(s"value not in enum")
    }
    Option(schema.get("const")).foreach { c =>
      if (c != node) return fail("value differs from const")
    }

    if (node.isTextual) {
      val s = node.asText
      Option(schema.get("minLength")).foreach(m =>
        if (s.length < m.asInt) return fail(s"shorter than minLength ${m.asInt}"))
      Option(schema.get("maxLength")).foreach(m =>
        if (s.length > m.asInt) return fail(s"longer than maxLength ${m.asInt}"))
      Option(schema.get("pattern")).foreach(p =>
        if (!java.util.regex.Pattern.compile(p.asText).matcher(s).find())
          return fail(s"does not match pattern ${p.asText}"))
    }
    if (node.isNumber) {
      Option(schema.get("minimum")).foreach(m =>
        if (node.asDouble < m.asDouble) return fail(s"below minimum ${m.asDouble}"))
      Option(schema.get("maximum")).foreach(m =>
        if (node.asDouble > m.asDouble) return fail(s"above maximum ${m.asDouble}"))
    }
    if (node.isArray) {
      Option(schema.get("minItems")).foreach(m =>
        if (node.size < m.asInt) return fail(s"fewer than minItems ${m.asInt}"))
      Option(schema.get("maxItems")).foreach(m =>
        if (node.size > m.asInt) return fail(s"more than maxItems ${m.asInt}"))
      Option(schema.get("items")).foreach { items =>
        node.elements.asScala.zipWithIndex.foreach { case (el, i) =>
          val r = check(el, items, s"$path[$i]")
          if (r.isDefined) return r
        }
      }
    }
    if (node.isObject) {
      Option(schema.get("required")).foreach { req =>
        req.elements.asScala.foreach { r =>
          if (!node.has(r.asText)) return fail(s"missing required property '${r.asText}'")
        }
      }
      val props = Option(schema.get("properties"))
      props.foreach { p =>
        p.properties.asScala.foreach { e =>
          if (node.has(e.getKey)) {
            val r = check(node.get(e.getKey), e.getValue, s"$path.${e.getKey}")
            if (r.isDefined) return r
          }
        }
      }
      Option(schema.get("additionalProperties")).foreach { ap =>
        if (ap.isBoolean && !ap.asBoolean) {
          val allowed = props.map(_.properties.asScala.map(_.getKey).toSet)
            .getOrElse(Set.empty[String])
          node.properties.asScala.foreach { e =>
            if (!allowed.contains(e.getKey))
              return fail(s"additional property '${e.getKey}' not allowed")
          }
        }
      }
    }
    None
  }
}
