package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Inverted index (term → posting list) and boolean keyword search —
  * the classic IR structure as a Spark build + probe pair.
  *
  * Build is one explode of each document's DISTINCT terms and one hash
  * aggregation keyed by term: the text itself never shuffles, only
  * (term, doc_id) pairs, and the aggregation is map-side partial. At
  * 100 TB the posting lists of frequent terms are the long pole — the
  * production layout shards a hot term's postings into bounded
  * segments (term, segment_no, ids) under the same groupBy; the
  * search face is unchanged since it re-explodes postings anyway.
  *
  * Search uses ONLY the index: select the query terms' rows, explode
  * their postings, and keep doc_ids hit by ALL terms (count == number
  * of terms — a k-way intersection as one hash aggregation).
  */
object InvertedIndex {

  /** Posting lists: (term, df, postings sorted asc). */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** BM25-ranked retrieval (Robertson & Walker's Okapi weighting, the
    * Lucene `+1` idf variant so every weight is positive): top-k
    * documents for a bag of query terms, scored
    * `Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))`.
    *
    * Engine-determinism discipline: the only libm call (`ln`) is
    * rounded to 6dp, each per-term score is rounded to 6dp and summed
    * in DECIMAL, and `avglen` is a SINGLE double division of exact
    * integers — so any engine reproduces the scores bit-for-bit and
    * the (score desc, doc_id) ranking is total.
    *
    * Scale shape: the corpus tokenizes once; only (doc_id, term) rows
    * for the ≤ |terms| query terms survive the filter, so the scoring
    * join touches a sliver of the corpus. Doc lengths and corpus
    * stats are hash aggregations; df and stats broadcast.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = terms.map(_.trim.toLowerCase).distinct
    // ONE tokenize pass and one shuffle: tokens group by (doc, query
    // term-or-null); the null bucket carries every non-query token, so
    // doc lengths and per-term tfs both derive from this tiny frame
    // staged: four consumers (lens, stats, tf, df) would otherwise
    // each re-run the tokenize — the frame is ≤ |terms|+1 rows per
    // doc, far smaller than the corpus it summarizes, so staging it
    // trades trivial storage for three whole-corpus scans
    val grouped = Retained.track(docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"),
        when(col("term").isin(ts: _*), col("term")).as("qterm"))
      .agg(count(lit(1)).as("n"))
      .cache())
    val lens = grouped.groupBy(col("doc_id")).agg(sum(col("n")).as("len"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("len")).cast("double") / count(lit(1)).cast("double"))
        .as("avg_len"))
    val tf = grouped.filter(col("qterm").isNotNull)
      .select(col("doc_id"), col("qterm").as("term"), col("n").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termScore = round(
      round(log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0), 6) *
      (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) +
          lit(b) * col("len").cast("double") / col("avg_len"))), 6)
    tf.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__ts", termScore.cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("__ts")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Batch multi-query BM25: top-k documents PER QUERY for a frame of
    * `(query_id, term)` rows — the shape retrieval training-data
    * pipelines need (mining per-query candidates for thousands of
    * queries at once), where calling [[bm25TopK]] per query would
    * re-tokenize the corpus per query. Same scoring discipline as
    * [[bm25TopK]] (6dp-rounded ln, 6dp term scores summed in DECIMAL,
    * single-division avglen); df is a per-term corpus property, shared
    * across queries.
    *
    * Scale shape: ONE tokenize pass; the (doc, term-or-null) grouped
    * frame is cached once (as in [[bm25TopK]]) and only rows whose
    * term appears in SOME query survive into scoring (broadcast mark
    * join against the distinct query vocabulary); the per-query fan-out
    * is the (query_id, term) → (doc, term) join, proportional to
    * matched postings, and top-k is a per-query WindowGroupLimit.
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, queryIdCol: String, termCol: String,
                    k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries.select(col(queryIdCol).as("query_id"),
      lower(trim(col(termCol))).as("term")).distinct()
    val vocab = broadcast(qt.select(col("term")).distinct()
      .withColumn("__is_q", lit(1)))
    val grouped = Retained.track(docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .join(vocab, Seq("term"), "left")
      .groupBy(col("doc_id"),
        when(col("__is_q") === 1, col("term")).as("qterm"))
      .agg(count(lit(1)).as("n"))
      .cache())
    val lens = grouped.groupBy(col("doc_id")).agg(sum(col("n")).as("len"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("len")).cast("double") / count(lit(1)).cast("double"))
        .as("avg_len"))
    val tf = grouped.filter(col("qterm").isNotNull)
      .select(col("doc_id"), col("qterm").as("term"), col("n").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termScore = round(
      round(log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0), 6) *
      (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) +
          lit(b) * col("len").cast("double") / col("avg_len"))), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__ts", termScore.cast("decimal(18,6)"))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("__ts")).cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"), col("score"))
  }

  /** Documents containing ALL `terms`, resolved purely from the index.
    * Terms normalize with the build-side tokenizer convention
    * (lowercase + trim) and dedupe — a repeated or differently-cased
    * query term must not make the intersection unsatisfiable.
    */
  def searchAll(index: DataFrame, terms: Seq[String]): DataFrame = {
    val ts = terms.map(_.trim.toLowerCase).distinct
    val n = ts.length
    index.filter(col("term").isin(ts: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === n)
      .select(col("doc_id"))
  }
}
