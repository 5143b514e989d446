package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Covariance over an embedding column — the first step of PCA /
  * whitening in an embedding pipeline (dedup preprocessing, ANN index
  * compression, feature whitening). [[covarianceExact]] uses DECIMAL
  * moment sums (the q63 discipline), so the SQL oracle can express it
  * and both engines agree bit-for-bit (q99). The eigendecomposition is
  * dimension-sized driver work and is not part of the library.
  */
object Pca {

  /** Engine-independent covariance: DECIMAL(18,10)-quantized inputs,
    * exact decimal moment sums (products carry scale 20 without
    * precision loss), final arithmetic in double, rounded. Output
    * (i, j, cov) for the upper triangle, 0-based dims. The path
    * shuffles the exploded (row, dim) table for the self-join, so its
    * cost grows with rows × d².
    */
  def covarianceExact(df: DataFrame, vecCol: String, roundTo: Int = 6): DataFrame = {
    val dec = "decimal(18,10)"
    val ex = df
      .select(monotonically_increasing_id().as("__rid"), col(vecCol).as("__v"))
      .select(col("__rid"), posexplode(col("__v")).as(Seq("i", "x")))
      .select(col("__rid"), col("i"), col("x").cast(dec).as("x"))
    val n = df.count()
    val sums = ex.groupBy(col("i"))
      .agg(sum(col("x")).cast("double").as("sx"))
    val prods = ex.as("a").join(ex.as("b"),
        col("a.__rid") === col("b.__rid") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.x") * col("b.x")).cast("double").as("sxy"))
    prods.join(sums.select(col("i"), col("sx").as("sxi")), Seq("i"))
      .join(sums.select(col("i").as("j"), col("sx").as("sxj")), Seq("j"))
      .select(col("i"), col("j"),
        // + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on the sign
        // of a rounded-to-zero negative)
        (round((col("sxy") - col("sxi") * col("sxj") / n) / n, roundTo) +
          lit(0.0)).as("cov"))
  }
}
