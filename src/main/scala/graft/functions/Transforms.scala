package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-column "format info" scalar transforms — the engine's scalar
  * function library, re-expressing reference
  * DbImportWorker.validateAndSetParameter (DbImportWorker.java:1113-1607)
  * as codegen-friendly Column expressions (SURVEY §2.3). Every transform
  * but [[loadFile]] stays inside whole-stage codegen; no Spark
  * expression reads a file, so that one is a UDF.
  */
object Transforms {

  /** `.` decimal format: strip `,` grouping, then numeric cast
    * (reference DbImportWorker.java:1145-1176).
    */
  def parseDecimalDot(c: Column, to: String = "double"): Column =
    numericCast(regexp_replace(c, ",", ""), to)

  /** `,` decimal format: strip `.` grouping, `,` → `.`, then cast
    * (reference DbImportWorker.java:1177-1208).
    */
  def parseDecimalComma(c: Column, to: String = "double"): Column =
    numericCast(translate(regexp_replace(c, "\\.", ""), ",", "."), to)

  /** Numeric cast that accepts decimal-pointed strings for INTEGRAL
    * targets: Spark's strict string→int cast nulls "12.50", but the
    * reference parses via double and truncates. Pure-integer strings
    * take the direct cast (exact for bigints beyond double precision);
    * only decimal-pointed values detour through double.
    */
  private def numericCast(s: Column, to: String): Column = to match {
    case "int" | "bigint" | "smallint" | "tinyint" =>
      coalesce(s.try_cast(to), s.try_cast("double").try_cast(to))
    case t => s.try_cast(t)
  }

  /** `lc` / `uc` format info (reference DbImportWorker.java:1316-1331). */
  def lowerCase(c: Column): Column = lower(c)
  def upperCase(c: Column): Column = upper(c)

  /** `email`: lowercase + trim; validity is a separate flag so the caller
    * can route invalid rows to the error channel
    * (reference DbImportWorker.java:1332-1342).
    */
  val EmailPattern = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
  def emailNormalize(c: Column): Column = lower(trim(c))
  def emailValid(c: Column): Column = emailNormalize(c).rlike(EmailPattern)

  /** Explicit date/datetime pattern with fallback chain: the reference
    * tries the mapping pattern, then locale/ISO/heuristic fallbacks
    * (DbImportWorker.java:1343-1483). Spark's `to_timestamp` returns null
    * on parse failure (non-ANSI), so the chain is a `coalesce`.
    */
  def parseTimestampChain(c: Column, patterns: Seq[String]): Column =
    coalesce(patterns.map(p => try_to_timestamp(c, lit(p))): _*)

  def parseDateChain(c: Column, patterns: Seq[String]): Column =
    parseTimestampChain(c, patterns).cast("date")

  /** Import-TZ → DB-TZ instant shift (reference
    * DbImportWorker.java:1347-1349,1574-1583; `-idtz`/`-dbtz`):
    * interpret the wall-clock in `importTz`, render the same instant in
    * `dbTz`.
    */
  def shiftTimezone(ts: Column, importTz: String, dbTz: String): Column =
    from_utc_timestamp(to_utc_timestamp(ts, importTz), dbTz)

  /** `file` format info (reference DbImportWorker.java:1209-1315): the
    * value is a file path and the column takes the file's contents —
    * bytes for a BLOB target, UTF-8 text for a CLOB (`asText`) — with a
    * single-entry zip/gz/tgz unpacked by
    * [[graft.sources.Compression.decompress]]. An unreadable path maps
    * to null, so validation marks the row invalid like any failed
    * parse. The file is read inside the task that owns the row: paths
    * must resolve on every executor.
    */
  def loadFile(path: Column, asText: Boolean = false): Column = {
    val bytes = udf(fileBytes _).apply(path)
    if (asText) bytes.cast("string") else bytes
  }

  private def fileBytes(p: String): Array[Byte] =
    if (p == null) null
    else try graft.sources.Compression.decompress(p,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    catch { case scala.util.control.NonFatal(_) => null }

  /** Base64 string into a Blob column (reference
    * DbImportWorker.java:1484-1487).
    */
  def base64Blob(c: Column): Column = unbase64(c)

  /** Accepted boolean tokens (reference `interpretAsBool` call site
    * DbImportWorker.java:1564-1566; tests pin true/false).
    */
  def interpretBool(c: Column): Column = {
    val l = lower(trim(c))
    when(l.isin("true", "1", "yes", "y", "j"), lit(true))
      .when(l.isin("false", "0", "no", "n"), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  /** Integer-column coercions: `"true"`/`"false"` → 1/0; values with a
    * decimal point parse as double then truncate; else integer parse
    * (reference DbImportWorker.java:1488-1556).
    */
  def coerceInt(c: Column): Column = {
    val l = lower(trim(c))
    when(l === "true", lit(1))
      .when(l === "false", lit(0))
      .when(l.contains("."), l.try_cast("double").try_cast("int"))
      .otherwise(l.try_cast("int"))
  }

  /** Configured null-value token → null (reference
    * CsvDataProvider.java:211-213 etc.).
    */
  def nullToken(c: Column, token: String): Column =
    when(c === token, lit(null).cast("string")).otherwise(c)

  /** Null into a non-nullable String column becomes `''` instead of an
    * error (reference DbImportWorker.java:1124-1136).
    */
  def notNullStringRepair(c: Column): Column = coalesce(c, lit(""))
}
