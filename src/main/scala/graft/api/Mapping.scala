package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Transforms

/** Column-mapping model (reference §1.4: `dbcolumn="data column"
  * formatinfo` parsed by DbImportMappingDialog.parseMappingString:286-310,
  * db column lowercased; auto-mapping = case-insensitive name equality,
  * DbImportWorker.java:217-230).
  */
object Mapping {

  case class ColumnMapping(dbColumn: String, dataColumn: Option[String],
                           format: Option[String])

  /** Parse `db1='data 1' fmt; db2=; db3='x'` (quotes optional; empty
    * data column = always-null mapping like `column_blob=`).
    */
  def parseMappingString(s: String): Seq[ColumnMapping] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { entry =>
      val eq = entry.indexOf('=')
      require(eq > 0, s"invalid mapping entry: $entry")
      val db = entry.substring(0, eq).trim.toLowerCase
      val rest = entry.substring(eq + 1).trim
      if (rest.isEmpty) ColumnMapping(db, None, None)
      else if (rest.startsWith("'") || rest.startsWith("\"")) {
        val q = rest.charAt(0)
        val end = rest.indexOf(q, 1)
        require(end > 0, s"unterminated quote in mapping entry: $entry " +
          "(note: quoted data-column names cannot contain ';' — " +
          "entries split on it)")
        val data = rest.substring(1, end)
        val fmt = rest.substring(end + 1).trim
        ColumnMapping(db, Some(data), if (fmt.isEmpty) None else Some(fmt))
      } else {
        val parts = rest.split("\\s+", 2)
        ColumnMapping(db, Some(parts(0)),
          if (parts.length > 1 && parts(1).trim.nonEmpty) Some(parts(1).trim) else None)
      }
    }

  /** Case-insensitive auto-map of table columns to data properties,
    * stripping `"`/`` ` `` quoting (DbImportMappingDialog.java:218-226);
    * unmapped table columns are omitted, unmapped data columns dropped.
    */
  def autoMap(tableColumns: Seq[String], dataColumns: Seq[String]): Seq[ColumnMapping] = {
    def norm(c: String) = c.replaceAll("[\"`]", "").trim.toLowerCase
    val byNorm = dataColumns.map(c => norm(c) -> c).toMap
    tableColumns.flatMap(t => byNorm.get(norm(t)).map(d =>
      ColumnMapping(t.toLowerCase, Some(d), None)))
  }

  private val DatePatternChars = "yMdHmsu"

  /** Compile one mapping to a Column expression for the target field,
    * applying the format-info transform pipeline (SURVEY §2.3) and the
    * final type cast. `dateFormat`/`dateTimeFormat` are the GLOBAL
    * defaults (reference `-dateFormat`/`-dateTimeFormat`): tried first
    * when the mapping itself carries no pattern.
    */
  def compile(m: ColumnMapping, target: StructField,
              importTz: String = "UTC", dbTz: String = "UTC",
              dateFormat: Option[String] = None,
              dateTimeFormat: Option[String] = None): Column = {
    val src = m.dataColumn match {
      case None => lit(null).cast(StringType)
      case Some(dc) => col(s"`$dc`")
    }
    val fmt = m.format.getOrElse("")
    val base: Column = (target.dataType, fmt) match {
      case (_, "lc") => Transforms.lowerCase(src).cast(target.dataType)
      case (_, "uc") => Transforms.upperCase(src).cast(target.dataType)
      case (_, "email") => Transforms.emailNormalize(src)
      // every numeric target takes the decimal formats — DECIMAL (the
      // common SQL money type) and short/byte included
      case (t: org.apache.spark.sql.types.NumericType, ".") =>
        Transforms.parseDecimalDot(src, t.simpleString)
      case (t: org.apache.spark.sql.types.NumericType, ",") =>
        Transforms.parseDecimalComma(src, t.simpleString)
      // date parsing always trims first: values arrive untrimmed when the
      // global trim option is off, but the reference still parses them
      case (TimestampType, f) if f.exists(DatePatternChars.contains(_)) =>
        Transforms.shiftTimezone(
          Transforms.parseTimestampChain(trim(src),
            Seq(f, "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss")),
          importTz, dbTz)
      case (DateType, f) if f.exists(DatePatternChars.contains(_)) =>
        // DATE columns accept datetime-pattern values and keep the date
        // part (reference DbImportWorker.java:1441-1452)
        Transforms.parseDateChain(trim(src), Seq(f, "dd.MM.yyyy", "yyyy-MM-dd"))
      case (TimestampType, _) =>
        Transforms.shiftTimezone(
          Transforms.parseTimestampChain(trim(src),
            dateTimeFormat.toSeq ++
              Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "dd.MM.yyyy HH:mm:ss")),
          importTz, dbTz)
      case (DateType, _) =>
        Transforms.parseDateChain(trim(src),
          dateFormat.toSeq ++ Seq("yyyy-MM-dd", "dd.MM.yyyy"))
      case (BinaryType, "file") => Transforms.loadFile(src)
      case (StringType, "file") => Transforms.loadFile(src, asText = true)
      case (BinaryType, _) => Transforms.base64Blob(src)
      case (IntegerType, _) => Transforms.coerceInt(src)
      case (BooleanType, _) => Transforms.interpretBool(src)
      // try_cast, not cast: a malformed value must become null (the
      // validation pass then drops the ROW, reference §2.3) instead of
      // failing the whole job under ANSI cast semantics
      case (dt, _) => src.try_cast(dt.sql)
    }
    base.as(target.name)
  }
}
