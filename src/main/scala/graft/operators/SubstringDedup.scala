package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Exact repeated-substring detection — the "dedup repeated spans, not
  * whole documents" operator used on large training corpora (the
  * suffix-array formulation of Lee et al.'s *Deduplicating Training
  * Data Makes Language Models Better*, re-expressed as the
  * hash-groupBy equivalent that distributes on Spark).
  *
  * A span of `w` consecutive tokens that occurs ≥ 2 times anywhere in
  * the corpus (same doc or another doc) is "duplicated". Instead of a
  * corpus-wide suffix array (inherently sequential to build), every
  * w-gram start position is hashed and counted: one explode → one hash
  * aggregation keyed by the gram hash → one join back, all partitioned
  * by the same key so the shuffle is reused. Cost is O(total tokens) —
  * the shape that survives 100 TB, since no step ever materializes
  * per-document state bigger than the document itself.
  *
  * Coverage accounting is exact: duplicated starts are merged as
  * intervals per document (a partitioned window over at most one row
  * per token), so overlapping spans are not double-counted.
  */
object SubstringDedup {

  /** Per-document duplicated-span stats: (id, n_tokens, n_dup_grams,
    * covered_tokens, dup_frac). Documents shorter than `w` tokens have
    * no w-gram and report zero coverage.
    */
  def duplicatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    // every w-gram start position, hashed (md5 keeps the key
    // engine-invariant; at production scale xxhash64 halves the bytes).
    // Grams come from the native one-pass ShinglesExpr and explode as
    // bare strings — slicing per exploded row would drag the whole
    // token array through the generator output (O(tokens²) bytes/doc)
    val grams = toks.filter(col("n") >= w)
      .select(col("id"), posexplode(
          graft.functions.TextShingles.shingles(col("toks"), w))
        .as(Seq("pos0", "gram")))
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"),
        md5(col("gram")).as("h"))
    // grams occurring >= 2 times anywhere; the aggregation and the
    // join-back share the hash partitioning on h
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("occs"))
      .filter(col("occs") >= 2).select(col("h"))
    val dupStarts = grams.join(dup, Seq("h")).select(col("id"), col("pos"))
    // merge intervals: each start covers w tokens, minus the overlap
    // with the previous duplicated start in the same document
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val contrib = dupStarts.withColumn("contrib",
      when(lag(col("pos"), 1).over(byDoc).isNull, lit(w.toLong))
        .otherwise(least(lit(w.toLong), col("pos") - lag(col("pos"), 1).over(byDoc))))
    val perDoc = contrib.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_grams"), sum(col("contrib")).as("covered_tokens"))
    toks.select(col("id"), col("n").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac",
        when(col("n_tokens") > 0,
          round(col("covered_tokens").cast("double") /
            col("n_tokens").cast("double"), 6)).otherwise(lit(0.0)))
  }
}
