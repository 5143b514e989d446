package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Bench.session(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
