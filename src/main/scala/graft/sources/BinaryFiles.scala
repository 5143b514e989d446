package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/** The one `binaryFile` loader: every source that reads a file whole
  * (yaml/xml/vcf/xls/xlsx/ods/kdbx/html/warc, compressed containers and
  * the CLI's single-file reads) loads its bytes here, one file per
  * task. A glob in the FILENAME is routed through `pathGlobFilter` on
  * the parent directory: loading the raw glob path works, but Spark's
  * streaming-sink metadata probe then logs a FileNotFoundException stack
  * trace for the unexpanded pattern on every read.
  */
object BinaryFiles {
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new java.io.File(path)
    val reader = spark.read.format("binaryFile")
    if (p.getName.exists(c => c == '*' || c == '?'))
      reader.option("pathGlobFilter", p.getName).load(p.getParent)
    else reader.load(path)
  }
}

/** The frame builders of the whole-file sources (reference rule: parse
  * each file whole, turn its records into rows, feed the rows to the
  * import). Each parses every file inside its task, caches the records
  * once and derives a deterministic schema from them on the driver.
  */
private[sources] object WholeFileFrame {

  private def contents(spark: SparkSession, path: String): RDD[Array[Byte]] = {
    import spark.implicits._
    BinaryFiles.read(spark, path).select("content").as[Array[Byte]].rdd
  }

  /** Records of named values (YAML, XML, vCard, KeePass): the columns are
    * the union of the records' keys, name-sorted. A column is binary iff
    * some record holds bytes for it, and a string in a binary column
    * becomes its UTF-8 bytes (a vCard `PHOTO:https://…` next to another
    * card's base64 photo); Catalyst rejects a String in a binary column
    * outright. Every other column is a string.
    */
  def byKeys(spark: SparkSession, path: String)
            (parse: Array[Byte] => Seq[Map[String, Any]]): DataFrame = {
    val parsed = contents(spark, path).flatMap(parse)
    parsed.cache()
    val keys = parsed.flatMap(_.iterator.map { case (k, v) => k -> v.isInstanceOf[Array[Byte]] })
      .reduceByKey(_ || _).collect().sortBy(_._1)
    val cols = keys.map(_._1).toSeq
    val binary = keys.collect { case (k, true) => k }.toSet
    val schema = StructType(cols.map(c => StructField(c,
      if (binary.contains(c)) BinaryType else StringType, nullable = true)))
    def cell(m: Map[String, Any], c: String): Any = m.get(c).map {
      case s: String if binary.contains(c) => s.getBytes("UTF-8")
      case v => v
    }.orNull
    spark.createDataFrame(parsed.map(m => Row.fromSeq(cols.map(cell(m, _)))), schema)
  }

  /** Header plus rows of cells (XLS, XLSX, ODS): the widest header list
    * wins, ties broken lexicographically (an RDD reduce order must not
    * pick it). Narrow rows are padded and wide ones clamped: silent
    * misalignment is worse than dropping trailing unheadered cells.
    */
  def byHeader(spark: SparkSession, path: String)
              (parse: Array[Byte] => (IndexedSeq[String], Seq[IndexedSeq[String]])): DataFrame = {
    val parsed = contents(spark, path).map(parse)
    parsed.cache()
    val headerLists = parsed.map(_._1).collect()
    require(headerLists.nonEmpty, s"no files matched $path")
    val cols = headerLists.maxBy(h => (h.size, h.mkString("\u0000")))
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val rows = parsed.flatMap(_._2)
      .map(r => Row.fromSeq(r.padTo(cols.size, null).take(cols.size)))
    spark.createDataFrame(rows, schema)
  }

  /** One sheet's rows → (header, data rows), every row padded to the
    * widest. With `header` the first row names the columns, a blank
    * cell as `column_<n>`; without it every column is `column_<n>`
    * (the reference's unnamed-column rule, 1-based).
    */
  def headed(rows: Seq[IndexedSeq[String]],
             header: Boolean): (IndexedSeq[String], Seq[IndexedSeq[String]]) =
    if (rows.isEmpty) (IndexedSeq.empty, Seq.empty)
    else {
      val width = rows.map(_.size).max
      val padded = rows.map(_.padTo(width, null: String))
      def name(i: Int) = s"column_${i + 1}"
      if (header) (padded.head.zipWithIndex.map { case (h, i) =>
        if (h == null || h.isEmpty) name(i) else h
      }, padded.tail)
      else (padded.head.indices.map(name), padded)
    }
}
