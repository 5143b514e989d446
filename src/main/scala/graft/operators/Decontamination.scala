package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextShingles}

/** Benchmark decontamination — flag training documents that overlap an
  * evaluation/benchmark set by shared word n-grams (the standard
  * n-gram-overlap decontamination used for LLM training corpora).
  *
  * Scale shape: the benchmark side is always SMALL (eval suites are
  * thousands of documents, the corpus is the 100 TB side), so its
  * distinct shingle set is broadcast and the corpus is scanned exactly
  * once — shingle explode + broadcast-hash semi-match + one hash
  * aggregation keyed by doc id. The corpus text itself never shuffles;
  * only (id, matched-count) rows move.
  */
object Decontamination {

  /** Per-corpus-document contamination stats against `benchmark`:
    * (id, n_shingles, n_matched, contam_frac, is_contaminated) where
    * shingles are distinct word-k-grams and a doc is contaminated when
    * the matched fraction reaches `threshold`.
    */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 3, threshold: Double = 0.5): DataFrame = {
    def shingleSet(c: org.apache.spark.sql.Column) =
      array_distinct(TextShingles.shingles(TextAnalysis.tokens(c), k))
    // blank/short benchmark docs collapse to the whole-text shingle
    // ("" for empty text); drop empties so a vacuous match cannot flag
    // every blank corpus doc as 100% contaminated
    val benchSh = benchmark
      .select(explode(shingleSet(col(textCol))).as("sh"))
      .filter(col("sh") =!= "").distinct()
    // ONE pass over the corpus: explode each doc's shingles, tag the
    // benchmark hits with a broadcast left join, count both totals in
    // the same hash aggregation (the corpus is shingled exactly once)
    corpus.select(col(idCol).as("id"), explode(shingleSet(col(textCol))).as("sh"))
      .join(broadcast(benchSh.withColumn("__hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .withColumn("contam_frac",
        round(col("n_matched").cast("double") / col("n_shingles").cast("double"), 6))
      .withColumn("is_contaminated",
        (col("n_matched").cast("double") / col("n_shingles").cast("double")
          >= threshold).cast("long"))
  }

  /** EMBEDDING-level cross-set decontamination — the semantic
    * complement of the n-gram tier: a paraphrased benchmark item
    * shares no shingles with its source but its embedding is nearly
    * parallel. Flags TRAIN vectors whose cosine to ANY eval vector
    * reaches `threshold`, via the hyperplane-LSH band buckets
    * ([[Similarity.hyperplaneBits]]/[[Similarity.packBandKeys]] — the
    * SAME deterministic hyperplanes as the near-dup tier, so an
    * external SQL engine replays the banding verbatim): both sides
    * project to (bucket, band, key), candidates are per-key matches
    * (never all-pairs), verified with exact cosine ROUNDED 6 dp
    * before thresholding (engine-portable boundary ties).
    *
    * Returns one row per contaminated train id:
    * `(train_id, n_eval_hits, top_eval_id, max_sim)` with the argmax
    * eval tie-broken to the smallest id — deterministic, so the
    * removal set (and the audit trail of WHY each item was removed)
    * is reproducible run over run.
    */
  def embeddingContamination(train: DataFrame, eval: DataFrame,
                             threshold: Double,
                             numPlanes: Int = 24, bands: Int = 4,
                             dim: Int = 64,
                             bucketCol: Option[String] = None,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0,
      s"numPlanes ($numPlanes) must divide into bands ($bands)")
    val w = Similarity.hyperplaneWeights(numPlanes, dim)
    def keyed(df: DataFrame, outId: String) = {
      val bk = bucketCol.map(col).getOrElse(lit(0L))
      df.select(bk.as("bk"), col(idCol).as(outId), col(vecCol).as(s"__v_$outId"))
        .withColumn("__bits", Similarity.hyperplaneBits(col(s"__v_$outId"), w))
        .withColumn("__keys",
          Similarity.packBandKeys(col("__bits"), bands, numPlanes / bands))
        .drop("__bits")
    }
    val t = keyed(train, "tid")
    val e = keyed(eval, "eid")
    def exploded(df: DataFrame, id: String) = df
      .select(col("bk"), col(id),
        posexplode(col("__keys")).as(Seq("band_idx", "band_key")))
    val cand = exploded(t, "tid").join(exploded(e, "eid"),
        Seq("bk", "band_idx", "band_key"))
      .select(col("tid"), col("eid")).distinct()
    cand
      .join(t.select(col("tid"), col("__v_tid")), Seq("tid"))
      .join(e.select(col("eid"), col("__v_eid")), Seq("eid"))
      .withColumn("sim",
        round(Similarity.cosine(col("__v_tid"), col("__v_eid")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("tid").as("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("sim"), (-col("eid")).as("ne"))).as("__m"))
      .select(col("train_id"), col("n_eval_hits"),
        (-col("__m.ne")).as("top_eval_id"), col("__m.sim").as("max_sim"))
  }
}
