package graft.schema

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema inference over raw string data — the reference's promotion
  * lattice `detectNextDataType` (dataprovider/DataProvider.java:61-148,
  * SURVEY §1.3) re-expressed as ONE distributed aggregation pass instead
  * of a per-row fold: for every column we aggregate "all values match
  * class X" predicates + the max observed UTF-8 byte length, then decide
  * the type driver-side from that constant-size summary.
  *
  * Lattice order (first match wins, checked over non-empty values only;
  * empty/null never demotes a type — DataProvider.java:76-79):
  *   date pattern → DATE; datetime pattern → TIMESTAMP
  *   integer (≤9 digits) → INTEGER; wider integer → BIGINT
  *   double (≤20 chars) → DOUBLE
  *   true/false → BOOLEAN
  *   length > 4000 → BLOB (DataProvider.java:80-81)
  *   else VARCHAR(max UTF-8 byte length) (DataProvider.java:145)
  */
object TypeLattice {

  /** Inference summary for one column. */
  case class ColumnStats(column: String, nonEmpty: Long, allDate: Boolean,
                         allDateTime: Boolean, allInt: Boolean, allBigInt: Boolean,
                         allDouble: Boolean, allBool: Boolean, maxBytes: Long)

  case class Inferred(columnName: String, dataType: String, dataSize: Long)

  // Portable regexes (Java + RE2 compatible) for the value classes.
  val IntRe = "^[+-]?\\d{1,9}$"
  val BigIntRe = "^[+-]?\\d{1,18}$"
  val DoubleRe = "^[+-]?(\\d+([.]\\d*)?|[.]\\d+)([eE][+-]?\\d+)?$"
  val BoolRe = "^(true|false)$"
  val DateRe = "^\\d{2}\\.\\d{2}\\.\\d{4}$"          // default locale pattern dd.MM.yyyy
  val DateTimeRe = "^\\d{2}\\.\\d{2}\\.\\d{4} \\d{2}:\\d{2}:\\d{2}$"
  val IsoDateRe = "^\\d{4}-\\d{2}-\\d{2}$"
  val IsoDateTimeRe = "^\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}$"

  /** One aggregation pass over `df` (all columns treated as strings). */
  def stats(df: DataFrame, columns: Seq[String]): Seq[ColumnStats] = {
    val aggs = columns.flatMap { c =>
      // quote the reference: a header like "No." must not resolve as a
      // nested-field path
      val v = trim(col(s"`${c.replace("`", "``")}`").cast("string"))
      val present = v.isNotNull && v =!= ""
      def allMatch(re: String) =
        coalesce(min(when(present, v.rlike(re))), lit(true))
      Seq(
        // coalesce: sum over an EMPTY frame is null, which would NPE the
        // Long unboxing below
        coalesce(sum(when(present, 1L).otherwise(0L)), lit(0L)).as(s"${c}__n"),
        allMatch(s"($DateRe)|($IsoDateRe)").as(s"${c}__date"),
        allMatch(s"($DateTimeRe)|($IsoDateTimeRe)").as(s"${c}__datetime"),
        allMatch(IntRe).as(s"${c}__int"),
        allMatch(BigIntRe).as(s"${c}__bigint"),
        (allMatch(DoubleRe) && coalesce(max(when(present, length(v))), lit(0)) <= 20)
          .as(s"${c}__double"),
        allMatch(BoolRe).as(s"${c}__bool"),
        coalesce(max(when(present, octet_length(v))), lit(0L)).cast("long")
          .as(s"${c}__maxbytes"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    columns.map { c =>
      def b(s: String) = row.getAs[Boolean](s"${c}__$s")
      ColumnStats(c, row.getAs[Long](s"${c}__n"), b("date"), b("datetime"),
        b("int"), b("bigint"), b("double"), b("bool"), row.getAs[Long](s"${c}__maxbytes"))
    }
  }

  /** The lattice decision (DataProvider.java:80-145 order). */
  def decide(s: ColumnStats): Inferred = {
    val t =
      if (s.nonEmpty == 0) "VARCHAR"
      else if (s.allDate) "DATE"
      else if (s.allDateTime) "TIMESTAMP"
      else if (s.allInt) "INTEGER"
      else if (s.allBigInt) "BIGINT"
      else if (s.allDouble) "DOUBLE"
      else if (s.allBool) "BOOLEAN"
      else if (s.maxBytes > 4000) "BLOB"
      else "VARCHAR"
    Inferred(s.column, t, if (t == "VARCHAR") s.maxBytes else 0L)
  }

  /** Full inference as a DataFrame (column_name, data_type, data_size). */
  def infer(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val decided = stats(df, df.columns.toIndexedSeq).map(decide)
    val rows = decided.map(i => Row(i.columnName, i.dataType, i.dataSize))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("column_name", StringType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("data_size", LongType, nullable = false))))
  }

  /** Inferred Spark schema for creating a destination table (§1.2 type
    * mapping).
    */
  def toStructType(inferred: Seq[Inferred]): StructType =
    StructType(inferred.map { i =>
      val dt = i.dataType match {
        case "DATE" => DateType
        case "TIMESTAMP" => TimestampType
        case "INTEGER" => IntegerType
        case "BIGINT" => LongType
        case "DOUBLE" => DoubleType
        case "BOOLEAN" => BooleanType
        case "BLOB" => BinaryType
        case _ => StringType
      }
      StructField(i.columnName, dt, nullable = true)
    })
}
