package graft.sources

import scala.collection.mutable

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV source with the reference's dialect semantics
  * (dataprovider/CsvDataProvider.java:28-319, SURVEY §2.1):
  * configurable separator/quote/escape (defaults `;` and `"`), optional
  * headers (else `column_1..N`), null-string token, value trim, and
  * permissive underfilled-line null-fill. Parsing itself is Spark's
  * vectorized CSV reader (codegen'd, splittable, predicate-pushdown
  * capable) — only the naming/token/trim semantics are layered on top.
  */
object CsvSource {

  case class CsvOptions(separator: String = ";", quote: String = "\"",
                        escape: String = "\"", header: Boolean = true,
                        nullToken: Option[String] = None, trimValues: Boolean = false,
                        encoding: String = "UTF-8")

  /** The options Spark's CSV reader gets; the null token and trim are
    * applied by [[post]], so Spark never sees them.
    */
  private def readerOptions(o: CsvOptions): Map[String, String] = Map(
    "sep" -> o.separator, "quote" -> o.quote, "escape" -> o.escape,
    "header" -> o.header.toString, "mode" -> "PERMISSIVE", "encoding" -> o.encoding)

  private def post(df: DataFrame, o: CsvOptions): DataFrame = {
    // no-headers mode: reference names columns column_1..N
    // (CsvDataProvider.java:117-160)
    val named =
      if (o.header) df
      else df.toDF(df.columns.indices.map(i => s"column_${i + 1}"): _*)
    if (!o.trimValues && o.nullToken.isEmpty) named
    else named.select(named.columns.toIndexedSeq.map { c =>
      // backticks: a header name may hold a dot
      var e = named.col(s"`${c.replace("`", "``")}`")
      if (o.trimValues) e = trim(e)
      o.nullToken.foreach { t => e = when(e === t, lit(null)).otherwise(e) }
      e.as(c)
    }: _*)
  }

  /** Reads a CSV file. `firstLine` is the file's first non-blank line,
    * as [[validateStructure]] returns it: given, the schema is built
    * from it on the driver the way Spark's own inference builds it
    * (`TextInputCSVDataSource.inferFromDataset` with `inferSchema` off:
    * the univocity parse of the line, then `CSVUtils.makeSafeHeader`),
    * and the reader runs no inference job. Without it Spark infers.
    */
  def read(spark: SparkSession, path: String, o: CsvOptions = CsvOptions(),
           firstLine: Option[String] = None): DataFrame = {
    val reader = spark.read.options(readerOptions(o))
    post(firstLine.flatMap(schemaOf(spark, o, _)).fold(reader)(reader.schema).csv(path), o)
  }

  /** Spark's parsed form of [[readerOptions]]: its univocity settings
    * split a line exactly as the reader does. The time zone only reaches
    * typed values, which these all-string reads never parse.
    */
  private def parsedOptions(o: CsvOptions): CSVOptions =
    new CSVOptions(readerOptions(o), false, "UTC")

  /** The fields of one line as the reader splits it; a line that gives
    * no row (the empty line) counts as one empty field.
    */
  private def fields(parser: CsvParser, line: String): Array[String] =
    Option(parser.parseLine(line)).getOrElse(Array(""))

  /** All-string schema Spark would infer with `firstLine` as the first
    * non-blank line; None where Spark's parse of the line gives no row.
    */
  private def schemaOf(spark: SparkSession, o: CsvOptions,
                       firstLine: String): Option[StructType] = {
    val parsed = parsedOptions(o)
    Option(new CsvParser(parsed.asParserSettings).parseLine(firstLine)).map { row =>
      val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
      StructType(CSVUtils.makeSafeHeader(row, caseSensitive, parsed).toIndexedSeq
        .map(StructField(_, StringType)))
    }
  }

  /** Parse pre-loaded lines (a decompressed stream from
    * [[Compression]]); Spark infers the schema.
    */
  def readLines(lines: Dataset[String], o: CsvOptions = CsvOptions()): DataFrame =
    post(lines.sparkSession.read.options(readerOptions(o)).csv(lines), o)

  /** Structure error raised by [[validateStructure]]. */
  final class CsvStructureException(msg: String) extends IllegalStateException(msg)

  /** Reference field-count strictness (CsvDataProvider.java:85-90,
    * DbImportTest_Derby.testCsvImportErrorStructure): a data line whose
    * field count differs from the header's ABORTS the import — unless
    * `allowUnderfilled` (`-a`) permits short lines (the parser
    * null-fills them) or `removeSurplusEmpty` (`-r`) permits surplus
    * TRAILING fields that are all empty (the parser drops them).
    * Surplus non-empty fields are always an error.
    *
    * One Spark job over the raw lines, read the way Spark's CSV source
    * reads a non-UTF-8 file (a Hadoop RDD over `TextInputFormat`, each
    * line decoded with the `encoding` option) and split by the reader's
    * own univocity parser, so a multi-character separator, the `\t`
    * escape and an empty quote count fields as [[read]] does; the first
    * violation in file order wins. Blank lines are ignored, matching the
    * parser. With `header=false` the first line still defines the field
    * count. Returns the first non-blank line (a line with a character
    * other than a space), the header that [[read]] builds its schema
    * from; None for an empty file.
    *
    * For a directory or glob input, "first" means the first line of the
    * first Hadoop split, the first file in the file system's listing
    * order. Spark's own inference takes the first line of its largest
    * split instead, so the two agree for a single file only.
    */
  def validateStructure(spark: SparkSession, path: String, o: CsvOptions,
                        allowUnderfilled: Boolean,
                        removeSurplusEmpty: Boolean): Option[String] = {
    // one Path: `hadoopFile(path)` would split a file name at its commas
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    FileInputFormat.setInputPaths(conf, new Path(path))
    val charset = o.encoding
    val lines = spark.sparkContext
      .hadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
      .map { case (_, t) => new String(t.getBytes, 0, t.getLength, charset) }
    validateStructure(lines, o, allowUnderfilled, removeSurplusEmpty)
  }

  /** What the structure pass keeps of one partition: its line count,
    * first line, first non-blank line, and for each distinct signature
    * (field count, index of the last non-empty field, -1 if none) of its
    * non-empty lines the partition-local index of the first such line.
    */
  private final case class PartSummary(lines: Long, first: Option[String],
                                       firstNonBlank: Option[String],
                                       signatures: Map[(Int, Int), Long])

  /** [[validateStructure]] over lines already in file order. */
  private[sources] def validateStructure(lines: RDD[String], o: CsvOptions,
                                         allowUnderfilled: Boolean,
                                         removeSurplusEmpty: Boolean): Option[String] = {
    val parsed = parsedOptions(o)
    val parts = lines.mapPartitions { it =>
      val parser = new CsvParser(parsed.asParserSettings)
      var count = 0L
      var first, firstNonBlank = Option.empty[String]
      val signatures = mutable.HashMap.empty[(Int, Int), Long]
      it.foreach { line =>
        if (count == 0L) first = Some(line)
        if (firstNonBlank.isEmpty && line.exists(_ != ' ')) firstNonBlank = Some(line)
        if (line.nonEmpty) {
          // univocity gives null for an empty field when so configured
          val f = fields(parser, line)
          signatures.getOrElseUpdate(
            (f.length, f.lastIndexWhere(v => v != null && v.nonEmpty)), count)
        }
        count += 1
      }
      Iterator(PartSummary(count, first, firstNonBlank, signatures.toMap))
    }.collect()
    // line 0 defines n, header or not; its own signature never violates
    parts.iterator.flatMap(_.first).nextOption().foreach { line0 =>
      val n = fields(new CsvParser(parsed.asParserSettings), line0).length
      def violates(got: Int, lastNonEmpty: Int): Boolean =
        if (got < n) !allowUnderfilled
        else got > n && !(removeSurplusEmpty && lastNonEmpty < n)
      val offsets = parts.scanLeft(0L)(_ + _.lines)
      val bad = parts.indices.flatMap(p => parts(p).signatures.collect {
        case ((got, last), i) if violates(got, last) => (offsets(p) + i + 1, got)
      })
      if (bad.nonEmpty) {
        val (lineNo, got) = bad.minBy(_._1)
        throw new CsvStructureException(
          s"CSV structure error in line $lineNo: expected $n fields, got $got" +
            (if (o.header) "" else " (field count set by the first line)"))
      }
    }
    parts.iterator.flatMap(_.firstNonBlank).nextOption()
  }
}
