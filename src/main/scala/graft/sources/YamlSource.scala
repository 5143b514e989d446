package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** YAML source (reference dataprovider/YamlDataProvider.java:32-302,
  * SURVEY §2.1): a YAML sequence of flat mappings, same contract as the
  * JSON provider. SnakeYAML (shipped with Spark) parses each whole file
  * inside a task; values are stringified and typed later by the mapping /
  * inference pass — mirroring the reference where YAML scalars flow
  * through the same per-value validate/cast pipeline.
  */
object YamlSource {

  private[sources] def parseDocument(yaml: String): Seq[Map[String, String]] = {
    val loaded = new org.yaml.snakeyaml.Yaml().load[Any](yaml)
    loaded match {
      case l: java.util.List[_] =>
        l.asScala.toSeq.map {
          case m: java.util.Map[_, _] =>
            m.asScala.map { case (k, v) =>
              String.valueOf(k) -> (if (v == null) null else String.valueOf(v))
            }.toMap
          case other =>
            throw new IllegalArgumentException(
              s"YAML item is not a mapping: ${other.getClass}")
        }
      case null => Seq.empty
      case other =>
        throw new IllegalArgumentException(
          s"YAML root is not a sequence: ${other.getClass}")
    }
  }

  /** One file per task, decoded with `charset`; union-of-keys schema,
    * all-string columns (cast downstream via the mapping).
    */
  def read(spark: SparkSession, path: String, charset: String = "UTF-8"): DataFrame =
    WholeFileFrame.byKeys(spark, path)(b => parseDocument(new String(b, charset)))
}
