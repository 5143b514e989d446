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
  */
object JsonSource {

  /** JSON-lines (one object per line) — the scalable layout. */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Whole-file JSON where the top level is an array of flat objects
    * (the reference's required shape, JsonDataProvider.java:309-316).
    */
  def readArray(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** Whole-file JSON with a `-dp` path (slash- or dot-separated object
    * keys) leading to the array of flat objects
    * (JsonDataProvider.java:305-311).
    */
  def readArrayAt(spark: SparkSession, path: String, dataPath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = spark.read.option("multiLine", "true").json(path)
    val steps = dataPath.split("[/.]").filter(_.nonEmpty)
    val arr = steps.map(k => s"`$k`").mkString(".")
    root.select(explode(col(arr)).as("__graft_row")).select(col("__graft_row.*"))
  }
}
