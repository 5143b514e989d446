package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON source (reference dataprovider/JsonDataProvider.java:35-323,
  * SURVEY §2.1): the reference streams a top-level array of flat objects
  * with an optional `-dp` path to the array. Spark-first mapping:
  *
  *  - JSON-lines input → `spark.read.json` (splittable, scales);
  *  - array-of-objects files → `multiLine` JSON (one task per file —
  *    the same granularity as the reference's single stream);
  *  - `-dp` data path → dot/slash navigation applied after parse via
  *    select/explode on the nested column.
  *
  * Array files decode with an explicit charset (the CLI's `-e`, default
  * UTF-8), as the reference's stream does, so Spark parses from a
  * `Reader`. Without one, Spark parses the raw Hadoop stream, and every
  * number that lands in a column widened to string (one malformed value
  * such as `"230z"` is enough) is re-read from the file by position; on
  * a local file each such read opens and stats the file again. From the
  * `Reader`, such a number is rendered by Jackson, like the reference's
  * `Integer`/`Long`/`Double` values: `2.50` → `"2.5"`, `1e3` →
  * `"1000.0"`, `{"a":  1}` → `{"a":1}`. A UTF-8 byte-order mark is not
  * skipped; the caller strips it.
  */
object JsonSource {

  /** JSON-lines (one object per line) — the scalable layout. */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Whole-file JSON where the top level is an array of flat objects
    * (the reference's required shape, JsonDataProvider.java:309-316).
    */
  def readArray(spark: SparkSession, path: String, charset: String = "UTF-8"): DataFrame =
    spark.read.option("multiLine", "true").option("encoding", charset).json(path)

  /** Whole-file JSON with a `-dp` path (slash- or dot-separated object
    * keys) leading to the array of flat objects
    * (JsonDataProvider.java:305-311).
    */
  def readArrayAt(spark: SparkSession, path: String, dataPath: String,
                  charset: String = "UTF-8"): DataFrame = {
    import org.apache.spark.sql.functions._
    val steps = dataPath.split("[/.]").filter(_.nonEmpty)
    val arr = steps.map(k => s"`$k`").mkString(".")
    readArray(spark, path, charset)
      .select(explode(col(arr)).as("__graft_row")).select(col("__graft_row.*"))
  }
}
