package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup / similarity / embedding queries — exact through MinHash-LSH/SimHash/PPJoin dedup, ANN (brute/IVF/int8), kNN graphs, leakage splits, dup provenance.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesDedup]] / [[oracleSqlDedup]] to the
  * assembled driver contract.
  */
private[graft] trait DedupQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q22
  /** Exact dedup: hash-groupBy on the content fingerprint. */
  def q22ExactDedup(s: SparkSession, d: String): DataFrame =
    operators.TextDedup.exactDedup(dedupCorpus(s, d), "doc_id", "text")
      .select(col("keep_id"), col("group_size"), col("fp"))
      .orderBy(col("keep_id"))

  // ---------------------------------------------------------------- q23
  /** MinHash+LSH near-dup detection: shingle → signature → band buckets →
    * candidate join → exact-Jaccard verification.
    */
  def q23MinhashLsh(s: SparkSession, d: String): DataFrame =
    operators.TextDedup.verifiedNearDupPairs(dedupCorpus(s, d), "doc_id", "text",
        k = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id1"), col("id2"))

  /** Exact n-gram Jaccard pairs via PPJoin-style prefix filtering
    * ([[operators.TextDedup.jaccardPairsPrefix]]) — result-identical to
    * the direct shingle join (spec-pinned), but candidate enumeration is
    * bounded by prefix collisions instead of every co-shingled pair, so
    * it survives hot-shingle corpora at scale.
    */
  def q24NgramJaccard(s: SparkSession, d: String): DataFrame =
    dedupPairs(s, d)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id1"), col("id2"))

  // ---------------------------------------------------------------- q25
  /** 32-bit SimHash sketch per document. */
  def q25Simhash(s: SparkSession, d: String): DataFrame =
    dedupCorpus(s, d).select(col("doc_id"),
        operators.TextDedup.simhash32(col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q26
  /** Brute-force cosine top-k ANN baseline (broadcast queries, no corpus
    * shuffle).
    */
  def q26AnnTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val corpus = e.filter(col("vec_id") >= 10)
    operators.Similarity.bruteForceTopK(queries, corpus, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q27
  /** IVF-style ANN (coarse centroids + nprobe buckets) — the scale path.
    * Not SQL-expressible compactly; driver records a rows-only check.
    */
  def q27AnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val corpus = e.filter(col("vec_id") >= 10)
    operators.Similarity.ivfTopK(queries, corpus, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q28
  /** Embedding-cosine near-duplicates via hyperplane-LSH sub-buckets
    * inside the coarse (label) buckets, verified with exact cosine
    * (approximate recall, exact precision). The corpus is augmented with
    * exact copies so duplicates exist; copies agree on every sign bit, so
    * LSH recall on them is 1. The all-pairs-in-bucket tier
    * ([[operators.Similarity.nearDupPairs]]) remains the ground truth in
    * the spec suite.
    */
  def q28EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    embedPairs(s, d).orderBy(col("id1"), col("id2"))

  // ---------------------------------------------------------------- q65
  /** Incremental near-dup: the corpus LSH index is WRITTEN ONCE
    * ([[operators.TextDedup.writeLshIndex]] — at scale a standing
    * artifact), then a new ingest batch (the drop-first-3-words mutants)
    * probes it with its band keys broadcast — the corpus is scanned,
    * never re-hashed and never shuffled. Same banding/verify math as
    * q23, so the oracle recomputes both sides declaratively.
    */
  def q65IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val idxPath = new java.io.File(sources.SyntheticFixtures.dir("lshindex"),
      "documents").getPath
    operators.TextDedup.writeLshIndex(documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", "text", idxPath)
    val fresh = documents(s, d).filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        regexp_replace(col("text"), "^(\\S+\\s+){3}", "").as("text"))
    operators.TextDedup.probeLshIndex(fresh, "doc_id", "text", idxPath,
        threshold = 0.5)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("new_id"), col("corpus_id"))
  }

  // ---------------------------------------------------------------- q67
  /** Dedup CLUSTERING — the step a real pipeline runs after pair
    * generation: exact-Jaccard near-dup pairs (the q24 PPJoin tier)
    * become undirected edges, and connected components labels every
    * clustered document with its duplicate cluster (minimum doc id in
    * the component) plus the cluster size. Components are the
    * alternating large-star/small-star rounds of
    * [[operators.ConnectedComponents]] — O(log n) rounds of hash
    * joins, no driver-side graph. The oracle rebuilds the same pair
    * set in SQL and closes it with a recursive CTE. Pairs come from the
    * shared per-session artifact ([[dedupPairs]]) — when q24 already
    * ran, this query costs connected components only, not a second
    * PPJoin pass.
    */
  def q67DedupClusters(s: SparkSession, d: String): DataFrame =
    operators.ConnectedComponents.clustersFromLabels(dedupLabels(s, d))
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q68
  /** Benchmark decontamination: every corpus document scored by its
    * word-3-gram overlap with a small benchmark set (docs with
    * doc_id % 97 == 0 stand in for an eval suite). The benchmark's
    * distinct shingles BROADCAST ([[operators.Decontamination]]) — the
    * corpus is scanned once and never shuffled, which is the only shape
    * that works when the corpus is the 100 TB side. The planted exact
    * copies and drop-3-words mutants of benchmark docs must flag.
    */
  def q68Decontamination(s: SparkSession, d: String): DataFrame = {
    val bench = documents(s, d).filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text"))
    operators.Decontamination.contaminationStats(
        dedupCorpus(s, d), bench, "doc_id", "text", k = 3, threshold = 0.5)
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_matched"),
        col("contam_frac"), col("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q72
  /** Exact repeated-substring spans (suffix-array-style dedup as a
    * distributed hash-groupBy, [[operators.SubstringDedup]]): every
    * 15-token span occurring twice anywhere in the corpus is flagged
    * and per-document coverage computed with exact interval merging.
    * The dedup corpus's verbatim copies guarantee duplicated spans.
    */
  def q72SubstringSpans(s: SparkSession, d: String): DataFrame =
    operators.SubstringDedup.duplicatedSpanStats(
        dedupCorpus(s, d), "doc_id", "text", w = 15)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q78
  /** Int8-quantized ANN ([[operators.Quantization]]): per-dimension
    * min/max calibration → 0..255 integer vectors → top-5 by EXACT
    * integer dot product (engine-invariant, unlike float sums).
    * Queries broadcast; the corpus never shuffles.
    */
  def q78QuantizedAnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val calib = operators.Quantization.calibrate(e, "embedding")
    val q = operators.Quantization
      .quantize(e.filter(col("vec_id") < 10), "vec_id", "embedding", calib)
      .select(col("vec_id").as("query_id"), col("qvec").as("qv"))
    val c = operators.Quantization
      .quantize(e.filter(col("vec_id") >= 10), "vec_id", "embedding", calib)
    val scored = c.crossJoin(broadcast(q))
      .withColumn("qdot", operators.Quantization.qdot(col("qv"), col("qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("qdot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("qdot"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q89
  /** Trained coarse quantizer for ANN: spherical k-means
    * ([[operators.KMeans]], k=4, two Lloyd's iterations) over the
    * embeddings. Deterministic end to end — lowest-id seeding, argmax
    * cosine with lowest-cluster tie-break, DECIMAL-exact centroid means
    * — so the oracle replays both iterations in SQL exactly. Per
    * iteration the corpus is scanned once with the k centroids
    * broadcast; the update shuffle is k x dims rows per partition.
    * Centroids are rendered one row per dimension — (cluster_id,
    * n_points, dim, value) — so the oracle harness compares scalar
    * columns, never a raw array.
    */
  def q89Kmeans(s: SparkSession, d: String): DataFrame =
    operators.KMeans.fit(embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2)
      .select(col("cluster_id"), col("n_points"),
        posexplode(col("centroid")).as(Seq("pos", "x")))
      .select(col("cluster_id"), col("n_points"),
        (col("pos") + 1).cast("long").as("dim"),
        round(col("x"), 6).as("value"))
      .orderBy(col("cluster_id"), col("dim"))

  // ---------------------------------------------------------------- q97
  /** SEMANTIC dedup clustering — the embedding analog of q67: hyperplane
    * -LSH near-dup pairs (the q28 scale tier, approximate recall / exact
    * -cosine precision) become undirected edges and connected components
    * labels every clustered vector with its duplicate cluster (minimum
    * vec_id) and cluster size. Same large-star/small-star rounds as the
    * text tier — O(log n) rounds of hash joins, no driver graph; the
    * oracle replays the LSH banding in SQL and closes the pairs with a
    * recursive CTE. Pairs come from the shared per-session artifact
    * ([[embedPairs]]) — when q28 already ran, this query costs
    * connected components only.
    */
  def q97EmbeddingClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = embedPairs(s, d)
    operators.ConnectedComponents.clusters(pairs, "id1", "id2")
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q99
  /** PCA covariance over the embedding corpus — the oracle-expressible
    * face of [[operators.Pca]]: DECIMAL-exact moment sums make the
    * upper-triangle covariance engine-independent.
    */
  def q99PcaCovariance(s: SparkSession, d: String): DataFrame =
    operators.Pca.covarianceExact(
        embeddings(s, d).select(col("vec_id"), col("embedding")), "embedding")
      .orderBy(col("i"), col("j"))

  // ---------------------------------------------------------------- q101
  /** Pairwise source-vocabulary overlap (mirror/re-crawl detection
    * ahead of dedup): one distinct hash agg for the vocabulary, a
    * token-co-partitioned self-join for intersections (bounded by
    * #groups² rows per token), tiny cross-joined size pairs so
    * zero-overlap pairs surface ([[operators.CorpusOverlap]]).
    */
  def q101SourceOverlap(s: SparkSession, d: String): DataFrame =
    operators.CorpusOverlap.vocabularyOverlap(documents(s, d), "source", "text")
      .orderBy(col("g_a"), col("g_b"))

  // ---------------------------------------------------------------- q286
  /** q101's pairwise source-overlap matrix at 100 TB scale
    * ([[operators.CorpusOverlap.sketchedVocabularyOverlap]]): one
    * corpus read into a k=64 KMV sketch per source (the native
    * `kmv_lows` aggregate — k longs per group on the exchange), then
    * every pair estimated from the sketches alone via the KMV
    * set-operation estimator, exact-integer ppm so the oracle replays
    * it bit-for-bit. The exact face (q101) pays a vocab×vocab
    * self-join that grows with the corpus; this one is O(sources²·k)
    * after a single scan — the same exact-stays-oracle /
    * sketch-is-the-scale-path pairing as q119/q281.
    */
  def q286SketchedOverlap(s: SparkSession, d: String): DataFrame =
    operators.CorpusOverlap.sketchedVocabularyOverlap(
      documents(s, d), "source", "text", k = 64)

  // ---------------------------------------------------------------- q102
  /** Mutual-kNN clustering over the embedding corpus (SemDeDup-style
    * density grouping): an edge survives only if each endpoint ranks
    * the other in its own top-4, stripping hub vectors; connected
    * components label the mutual graph. The query runs the LSH
    * band-bucket tier — the 100 TB path: candidates are pairs sharing
    * any hyperplane band key, so the corpus is never crossed whole and
    * the oracle replays the same deterministic banding in SQL. The
    * exact n² tier remains the spec ground truth (GraphSpec pins
    * per-pair sim identity and the recall floor)
    * ([[operators.KnnGraph]]).
    */
  def q102MutualKnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    operators.KnnGraph.mutualClusters(
        operators.KnnGraph.knnEdgesLsh(e, "vec_id", "embedding", k = 4,
          knownN = Some(Tables.rowCount(s, d, "embeddings"))))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q314
  /** q102's mutual-kNN face on SCALE-ADAPTIVE LSH banding
    * ([[operators.KnnGraph.knnEdgesLshAdaptive]]): band-key width r
    * grows as ⌈log2(n/128)⌉ (clamped to [4, 16]), so candidate-pair
    * mass stays ~128·n instead of the fixed-4-bit n²/2^4 blow-up
    * measured at sf~1 (157M pairs for 20k vectors). The oracle replays
    * the full 16-bit keys statically and derives both r (from
    * `count(*)`, exact integer `min r : 128·2^r ≥ n`) and the key
    * shift inside the SQL — scale-honest at any sf, not pinned to the
    * gate corpus size. q315 pins the recall side of the trade.
    */
  def q314MutualKnnAdaptive(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    operators.KnnGraph.mutualClusters(
        operators.KnnGraph.knnEdgesLshAdaptive(e, "vec_id", "embedding",
          k = 4, knownN = Some(Tables.rowCount(s, d, "embeddings"))))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q315
  /** Recall audit for the adaptive-LSH kNN tier (the q108 pair-metrics
    * discipline, vector edition): exact top-4 neighbors for a SAMPLED
    * probe set (vec_id % 5 = 0 — the audit stays O(|probes|·n), never
    * corpus²) measured against [[operators.KnnGraph.knnEdgesLshAdaptive]]
    * on the full corpus. One row: overall recall plus recall over
    * STRONG pairs (sim ≥ 0.7), where hyperplane banding theory puts
    * per-band match at (1−θ/π)^r ≥ 0.35 per band at r = 4 → ≥ 0.92
    * over 6 bands — the floor GraphSpec asserts. Counts and ppm ratios
    * are exact integers; nothing here depends on float summation
    * order.
    */
  def q315KnnAdaptiveRecall(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cs = operators.Similarity.cosine(col("query_vec"), col("embedding"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__sim", when(!isnan(cs), cs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("vec_id"))
    val exact = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 4)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("__sim"))
    val lsh = operators.KnnGraph.knnEdgesLshAdaptive(
        e, "vec_id", "embedding", k = 4,
        knownN = Some(Tables.rowCount(s, d, "embeddings")))
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_probes"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
        sum(when(col("__sim") >= 0.7, 1L).otherwise(0L)).as("n_exact_strong"),
        sum(when(col("__sim") >= 0.7, coalesce(col("__hit"), lit(0L)))
          .otherwise(0L)).as("n_hit_strong"))
      .select(col("n_probes"), col("n_exact"), col("n_hit"),
        expr("1000000 * n_hit DIV n_exact").as("recall_ppm"),
        col("n_exact_strong"), col("n_hit_strong"),
        expr("CASE WHEN n_exact_strong > 0 THEN 1000000 * n_hit_strong DIV n_exact_strong END")
          .as("recall_strong_ppm"))
  }

  // ---------------------------------------------------------------- q324
  /** Planted-cluster recall companion to q315: the q315 aggregate runs
    * on the NEAR-RANDOM gate corpus (cosine 0.33–0.5), where banding
    * theory itself caps recall — so it cannot certify the claim that
    * CLUSTERED mass (real near-duplicates) survives adaptive banding.
    * This row plants it: every vec_id % 50 == 0 seed gets two copies
    * perturbed by +0.05 on one deterministic coordinate (unit-norm
    * corpus → pairwise cosine ≈ 1 − d²/2 ≈ 0.99875 within each
    * 3-member group), the adaptive-LSH kNN runs on the AUGMENTED
    * corpus (r derived from its n on both engines), and recall is
    * measured over the planted directed pairs only. Banding math at
    * 0.99875: per-plane agreement 1 − θ/π ≈ 0.984, all-6-bands miss
    * ≤ 1e-5 at any adaptive r ≤ 16 — GraphSpec asserts the ≥ 90%
    * floor; the oracle replays the measurement exactly (counts and
    * ppm are integers). The perturbation is double-exact on both
    * engines: cast-to-double first, then one +0.05.
    */
  def q324PlantedRecall(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val copies = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("gid"), col("v"),
        explode(array(lit(1L), lit(2L))).as("cp"))
      .select(col("gid"),
        (col("gid") + lit(10000000L) * col("cp")).as("vec_id"),
        transform(sequence(lit(1), lit(64)), j =>
          when(j === pmod(col("gid") + col("cp"), lit(64)) + 1,
            element_at(col("v"), j) + lit(0.05))
            .otherwise(element_at(col("v"), j))).as("v"))
    val aug = base.select(col("vec_id"), col("v"))
      .unionAll(copies.select(col("vec_id"), col("v")))
    // the audit corpus is synthesized, so its n is not a recorded
    // footer count — one scalar job prices r AND the broadcast
    // election, and feeds the published n_corpus/r_bits columns
    val nCorpus = aug.count()
    val rBits = operators.KnnGraph.adaptiveBits(nCorpus, 128, 4, 16)
    val knn = operators.KnnGraph.knnEdgesLshAdaptive(
        aug, "vec_id", "v", k = 4, knownN = Some(nCorpus))
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val members = base.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("gid"), col("vec_id"))
      .unionAll(copies.select(col("gid"), col("vec_id")))
    val pairs = members.as("a").join(members.as("b"),
        col("a.gid") === col("b.gid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.gid").as("gid"), col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"))
    pairs.join(knn, Seq("query_id", "neighbor_id"), "left")
      .agg(
        lit(nCorpus).as("n_corpus"),
        lit(rBits.toLong).as("r_bits"),
        countDistinct(col("gid")).as("n_groups"),
        count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("n_corpus"), col("r_bits"), col("n_groups"),
        col("n_pairs"), col("n_hit"),
        expr("1000000 * n_hit DIV n_pairs").as("recall_ppm"))
  }

  // ---------------------------------------------------------------- q103
  /** DSIR importance resampling: score every non-`src0` document under
    * target-vs-raw hashed n-gram models (target = the `src0` slice) and
    * keep the top quarter by exact DECIMAL log-weight. The hashed
    * feature space collapses to a 64-row broadcast table, so the whole
    * selection is scans + hash aggs + one broadcast join + one
    * distributed-sort rank — nothing corpus-sized shuffles
    * ([[operators.Dsir]]).
    */
  def q103Dsir(s: SparkSession, d: String): DataFrame =
    operators.Dsir.importanceResample(documents(s, d), "doc_id", "text",
        col("source") === "src0", numBuckets = 64, keepFrac = 0.25)
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q104
  /** Quality-canonical near-dup dedup: the q24/q67 pair set clustered,
    * but the survivor of each cluster is the HIGHEST-quality member
    * (ties → smallest id), not the minimum id — the right election when
    * duplicates differ (the corpus's planted mutants are 3-words-
    * truncated, so the untruncated original must win its cluster).
    * Third consumer of the shared PPJoin pair artifact: when q24/q67
    * already ran, this costs clustering + one broadcast join only
    * ([[operators.ConnectedComponents.keepBestFromLabels]]).
    */
  def q104CanonicalDedup(s: SparkSession, d: String): DataFrame = {
    val corpus = dedupCorpus(s, d)
      .withColumn("quality", graft.functions.TextAnalysis.qualityScore(col("text")))
    operators.ConnectedComponents.keepBestFromLabels(
        corpus, "doc_id", "quality", dedupLabels(s, d))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q108
  /** LSH-tier recall report: MinHash-LSH banded near-dup pairs at
    * threshold 0.6 measured against the exact PPJoin tier on the same
    * corpus ([[operators.PairMetrics.confusion]]). The verify step
    * makes precision exactly 1 by construction — the row DEMONSTRATES
    * the tier contract (approximate recall, exact precision) and puts
    * a measured number on the recall the banding theory predicts
    * (`1-(1-j³)⁴` ≈ 0.62 at j = 0.6, →1 as j→1; the corpus is mostly
    * exact copies, so the aggregate lands high). Reuses the shared
    * PPJoin pair artifact for the exact side.
    */
  def q108LshRecall(s: SparkSession, d: String): DataFrame = {
    val approx = operators.TextDedup.verifiedNearDupPairs(dedupCorpus(s, d),
      "doc_id", "text", k = 3, numHashes = 12, bands = 4, threshold = 0.6)
    operators.PairMetrics.confusion(approx, dedupPairs(s, d))
  }

  // ---------------------------------------------------------------- q113
  /** Cross-source duplicate provenance: every verified near-dup pair
    * attributed to its (source, source) cell — which feeds mirror /
    * re-crawl diagnosis at the DOCUMENT level (q101 answers it at the
    * vocabulary level). Fourth consumer of the shared PPJoin pair
    * artifact; the source lookup is a join against the (doc_id, source)
    * projection, and the output is |sources|²-bounded.
    */
  def q113DupProvenance(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id").as("__base"),
      col("source"))
    val pairs = dedupPairs(s, d)
      .select((col("id1") % 1000000).as("__b1"), (col("id2") % 1000000).as("__b2"))
    pairs
      .join(src.select(col("__base").as("__b1"), col("source").as("__s1")), Seq("__b1"))
      .join(src.select(col("__base").as("__b2"), col("source").as("__s2")), Seq("__b2"))
      .select(least(col("__s1"), col("__s2")).as("src_a"),
        greatest(col("__s1"), col("__s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---------------------------------------------------------------- q116
  /** SimHash near-dup pairs over the dedup corpus: byte-band blocking
    * with guaranteed recall at Hamming ≤ 3 (pigeonhole over 4 bytes)
    * and exact bit_count(xor) verification — the cheapest pair tier
    * (one 32-bit sketch per doc, no shingle sets at join time),
    * catching the high-similarity core the Jaccard tiers verify more
    * expensively ([[operators.TextDedup.simhashPairs]]).
    */
  def q116SimhashPairs(s: SparkSession, d: String): DataFrame =
    operators.TextDedup.simhashPairs(dedupCorpus(s, d), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id1"), col("id2"))

  // ---------------------------------------------------------------- q126
  /** Leakage-safe train/val/test split: assignment hashes the near-dup
    * CLUSTER id (the shared connected-components labels, singletons
    * falling back to their own doc_id), so near-duplicate documents can
    * never straddle a split boundary — the eval-contamination failure
    * mode of q58's plain per-doc hash split. The output keeps the
    * per-split census and an explicit audit pair: crossing near-dup
    * pairs under the cluster split (structurally 0) vs under the naive
    * doc-hash split (the leakage a per-doc split would have shipped).
    * Reuses the session pair + label artifacts — no new CC pass.
    */
  def q126LeakageSplit(s: SparkSession, d: String): DataFrame = {
    def bucket(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 100
    def splitOf(c: Column): Column =
      when(bucket(c) < 80, lit("train"))
        .when(bucket(c) < 90, lit("val")).otherwise(lit("test"))
    val lab = dedupLabels(s, d)
      .select(col("id").as("doc_id"), col("cluster"))
    val assigned = dedupCorpus(s, d).select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split", splitOf(col("cluster_id")))
      .withColumn("doc_split", splitOf(col("doc_id")))
      // consumed three times below (two pair-join sides + the census);
      // checkpoint the slim 4-column frame instead of recomputing the
      // corpus-derived subtree per consumer
      .localCheckpoint(true)
    val pj = dedupPairs(s, d).select(col("id1"), col("id2"))
      .join(assigned.select(col("doc_id").as("id1"), col("split").as("s1"),
        col("doc_split").as("ds1")), "id1")
      .join(assigned.select(col("doc_id").as("id2"), col("split").as("s2"),
        col("doc_split").as("ds2")), "id2")
    val audit = pj.agg(
      coalesce(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)), lit(0L))
        .as("cross_pairs_cluster_split"),
      coalesce(sum(when(col("ds1") =!= col("ds2"), 1L).otherwise(0L)), lit(0L))
        .as("cross_pairs_doc_split"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(broadcast(audit))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------- q137
  /** Purged temporal train/val/test split over the event stream: rank
    * cutoffs at 70% / 85% of the `(us, event_id)` order (integer rank
    * arithmetic — `ceil(p·n)` as `(p·n + q−1) div q`, so the boundary
    * is a concrete event, not an interpolated float), with a one-day
    * EMBARGO around each boundary whose rows join no split — the
    * time-series leakage guard (features computed over trailing
    * windows straddle a naive boundary; the embargo absorbs that
    * lookback). The companion to q58's hash split (content-IID) and
    * q126's cluster split (near-dup-safe): this one is safe against
    * TEMPORAL leakage. Ranks come from the range-partitioned
    * distributed sort (q12's ordinal machinery — no global window);
    * cutoffs broadcast as 1-row frames; labeling is scan-stage.
    */
  def q137PurgedSplit(s: SparkSession, d: String): DataFrame = {
    val embargoUs = 86400000000L
    val ev = events(s, d).select(col("event_id"), expr("ts DIV 1000").as("us"))
    val ranked = operators.Ordinals.withOrderedOrdinal(
      ev, Seq(col("us"), col("event_id")), "i")
    val n = ranked.agg(count(lit(1)).as("c"))
    // both cutoffs in ONE pass over the ordinal (the ordinal's range
    // sort is the query's only fact-table shuffle — don't pay it twice)
    val cuts = broadcast(ranked.crossJoin(broadcast(n))
      .agg(max(when(col("i") <= expr("(7 * c + 9) div 10"), col("us")))
        .as("cut1"),
        max(when(col("i") <= expr("(17 * c + 19) div 20"), col("us")))
          .as("cut2")))
    ev.crossJoin(cuts)
      .withColumn("split",
        when(abs(col("us") - col("cut1")) <= embargoUs ||
             abs(col("us") - col("cut2")) <= embargoUs, lit("embargo"))
          .when(col("us") < col("cut1"), lit("train"))
          .when(col("us") < col("cut2"), lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("us")).as("min_us"),
        max(col("us")).as("max_us"))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------- q139
  /** Lexical hard-negative candidate mining for retrieval training:
    * each query document's top-3 TF terms (ties alphabetical) form a
    * query, and the batch BM25 ranker
    * ([[operators.InvertedIndex.bm25TopKBatch]] — ONE corpus tokenize
    * for all queries) returns each query's 10 highest-scoring OTHER
    * documents: lexically close non-copies, exactly the negatives
    * contrastive training wants. Self-exclusion re-ranks inside the
    * ≤11-row per-query frame (bounded window).
    */
  def q139HardNegatives(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    val qtf = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("tf").desc, col("term"))
    val qterms = qtf.withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3).select(col("query_id"), col("term"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    operators.InvertedIndex.bm25TopKBatch(docs, "doc_id", "text",
        qterms, "query_id", "term", k = 11)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q143
  /** Blocked edit-distance record linkage ([[operators.FuzzyJoin
    * .blockedLevenshtein]]): customer-name near-matches within a
    * nation block, Levenshtein ≤ 2. The n² fuzzy compare becomes
    * per-block candidate pairs pruned by a length band before the
    * codegen'd threshold-form `levenshtein` runs — the classic
    * blocking+verify entity-resolution shape. Edit distance is an
    * exact integer (Wagner–Fischer on both engines), so the oracle is
    * a plain SQL replay.
    */
  def q143FuzzyBlocking(s: SparkSession, d: String): DataFrame =
    operators.FuzzyJoin.blockedLevenshtein(
        customer(s, d).select(col("c_custkey"), col("c_nationkey"),
          col("c_name")),
        "c_custkey", "c_name", Seq("c_nationkey"), maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("id_a"), col("id_b"))

  // ---------------------------------------------------------------- q155
  /** Sorted-neighborhood linkage ([[operators.FuzzyJoin
    * .sortedNeighborhood]]): customers ranked by (name, key), pairs
    * within 3 rank positions verified at Levenshtein ≤ 2 — the
    * boundary-straddling complement to q143's hard blocking.
    * Candidates are O(n·window) by construction (rank-band join on
    * the ordinal line); the rank itself is the range-partitioned
    * distributed sort.
    */
  def q155SortedNeighborhood(s: SparkSession, d: String): DataFrame =
    operators.FuzzyJoin.sortedNeighborhood(
        customer(s, d), "c_custkey", "c_name",
        Seq(col("c_name").asc, col("c_custkey").asc),
        window = 3, maxDist = 2)
      .select(col("id_a"), col("id_b"), col("gap"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("id_a"), col("id_b"))

  // ---------------------------------------------------------------- q160
  /** Jaro–Winkler linkage on the native expression
    * ([[graft.plans.JaroWinklerExpr]] — Spark has no built-in; a UDF
    * would box every pair): within-nation candidate pairs scored in a
    * tight primitive loop, kept at rounded jw ≥ 0.985 (≈ one edit or
    * one adjacent transposition on these names). The threshold is
    * applied to the ROUNDED score on both engines so ULP noise cannot
    * flip membership; DuckDB's `jaro_winkler_similarity` is the
    * oracle (byte-identical semantics, probed: integer-halved
    * transpositions, 0.7 boost gate, prefix cap 4, empty ⇒ 0).
    */
  def q160JaroWinkler(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
      col("c_name"))
    // CPU is O(pairs): spread the stream side (single-file scan) first
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("c_custkey").as("id_a"), col("c_nationkey").as("na"),
        col("c_name").as("name_a"))
    val b = base.select(col("c_custkey").as("id_b"),
      col("c_nationkey").as("nb"), col("c_name").as("name_b"))
    a.join(b, col("na") === col("nb") && col("id_a") < col("id_b"))
      .withColumn("jw", round(graft.plans.JaroWinklerExpr.jaroWinkler(
        col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= 0.985)
      .select(col("id_a"), col("id_b"), col("jw"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------- q165
  /** Asymmetric shingle containment ([[operators.TextDedup
    * .containmentPairs]]): each prefix-dropped mutant against its
    * origin doc — the quote/excerpt signal Jaccard misses (Broder's
    * resemblance-vs-containment split). Pair-list-driven: shingle
    * sets are semi-joined to the candidates BEFORE the intersection
    * join, so cost scales with pairs, not the corpus. Integer end to
    * end (ppm ratios).
    */
  def q165Containment(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d).filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("id1"), col("doc_id").as("id2"))
    operators.TextDedup.containmentPairs(dedupCorpus(s, d), "doc_id",
        "text", pairs)
      .orderBy(col("id1"))
  }

  // ---------------------------------------------------------------- q167
  /** Cross-source duplication matrix: the verified near-dup pair set
    * (shared [[dedupPairs]] artifact — ninth consumer) rolled up by
    * the SOURCE pair it straddles, orientation-normalized. The
    * operational "which feeds duplicate each other" report every
    * multi-source corpus needs before sampling weights are set.
    * Two broadcast-sized joins over the pair list — cost is O(pairs).
    */
  def q167DupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    val idSrc = dedupPairs(s, d).select(col("id1").as("id"))
      .unionAll(dedupPairs(s, d).select(col("id2").as("id"))).distinct()
      .withColumn("base", pmod(col("id"), lit(1000000L)))
      .join(src, col("base") === col("doc_id"))
      .select(col("id"), col("source"))
    dedupPairs(s, d)
      .join(idSrc.select(col("id").as("id1"), col("source").as("sa")), Seq("id1"))
      .join(idSrc.select(col("id").as("id2"), col("source").as("sb")), Seq("id2"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------- q61
  /** Edit-distance near-duplicates via suffix-key blocking: documents
    * sharing their last 5 tokens join into small buckets (copies AND
    * drop-first-words mutations share the suffix), then exact
    * `levenshtein` verifies within each bucket — all-pairs cost is
    * bounded by bucket size, never corpus size.
    */
  def q61LevNearDup(s: SparkSession, d: String): DataFrame = {
    val c = dedupCorpus(s, d)
      .withColumn("toks", graft.functions.TextAnalysis.tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .withColumn("suffix_key", expr(
        "array_join(CASE WHEN n >= 5 THEN slice(toks, n - 4, 5) ELSE toks END, ' ')"))
      .select(col("doc_id"), col("text"), col("suffix_key"))
    c.as("a").join(c.as("b"),
        col("a.suffix_key") === col("b.suffix_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("lev", levenshtein(col("a.text"), col("b.text")))
      .filter(col("lev") <= 40)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("lev").cast("long").as("lev"))
      .orderBy(col("id1"), col("id2"))
  }

  // ---------------------------------------------------------------- q187
  /** JL signed-projection retrieval eval: project embeddings to 16
    * dims ([[operators.RandomProjection.projectSigned]]), run top-10
    * by projected cosine, and measure recall@10 against the exact
    * top-10 (q26's brute-force face) — the dimension-reduction
    * quality gate before committing a 100 TB corpus to a cheaper
    * index. Exact-integer recall in ppm.
    */
  def q187JlRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val proj = operators.RandomProjection.projectSigned(
      e, "vec_id", "embedding", outDims = 16)
    val n2 = proj.groupBy("id")
      .agg(sum((col("p") * col("p")).cast("decimal(34,12)"))
        .cast("decimal(38,12)").as("n2"))
    val pq = proj.filter(col("id") < 10)
    val pc = proj.filter(col("id") >= 10)
    val dot = pq.as("q").join(pc.as("c"), col("q.pdim") === col("c.pdim"))
      .groupBy(col("q.id").as("query_id"), col("c.id").as("cand_id"))
      .agg(sum((col("q.p") * col("c.p")).cast("decimal(34,12)"))
        .cast("decimal(38,12)").as("dot"))
    val cosf = dot
      .join(n2.select(col("id").as("query_id"), col("n2").as("nq")), Seq("query_id"))
      .join(n2.select(col("id").as("cand_id"), col("n2").as("nc")), Seq("cand_id"))
      .filter(col("nq").cast("double") > 0.0 && col("nc").cast("double") > 0.0)
      .withColumn("cosp", round(col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))), 6))
    val wA = Window.partitionBy("query_id").orderBy(col("cosp").desc, col("cand_id"))
    val approx = cosf.withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= 10).select(col("query_id"), col("cand_id"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = operators.Similarity
      .bruteForceTopK(queries, e.filter(col("vec_id") >= 10), k = 10)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx,
        approx("query_id") === exact("query_id") &&
          approx("cand_id") === exact("neighbor_id"), "left")
      .groupBy(exact("query_id").as("query_id"))
      .agg(count(col("cand_id")).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit") * 100000).as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  // ---------------------------------------------------------------- q193
  /** Per-source duplication involvement: the fraction of each source's
    * docs that sit in at least one verified near-dup pair (13th
    * consumer of the shared PPJoin pair artifact) — the crawl-trap
    * detector (a source whose docs are mostly near-dups of something
    * is a mirror or a template farm). Exact ppm.
    */
  def q193SourceDupRate(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    val dupDocs = dedupPairs(s, d).select(col("id1").as("id"))
      .unionAll(dedupPairs(s, d).select(col("id2").as("id")))
      .select(pmod(col("id"), lit(1000000L)).as("doc_id")).distinct()
    val perSrc = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val dupPerSrc = dupDocs.join(src, Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    perSrc.join(dupPerSrc, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_involved"),
        expr("(coalesce(n_dup, 0) * 1000000) DIV n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q196
  /** Embedding hygiene gate: per label, zero/near-zero/oversized
    * vector counts from DECIMAL-exact squared norms (the 6-dp
    * component quantization q186 uses) — degenerate vectors poison
    * cosine retrieval silently, so they get counted before any index
    * is built. One explode + two hash aggs.
    */
  def q196VectorHygiene(s: SparkSession, d: String): DataFrame = {
    val n2 = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double").cast("decimal(12,6)"))
      .groupBy("vec_id", "label")
      .agg(sum((col("xd") * col("xd")).cast("decimal(27,12)"))
        .cast("decimal(32,12)").as("n2"))
    n2.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        // exact DECIMAL thresholds — a double-literal compare would
        // promote n2 to double and wobble at the boundary
        sum(when(col("n2") > 0 &&
            col("n2") < expr("CAST(0.01 AS DECIMAL(32,12))"), 1L)
          .otherwise(0L)).as("n_tiny"),
        sum(when(col("n2") > expr("CAST(100 AS DECIMAL(32,12))"), 1L)
          .otherwise(0L)).as("n_oversized"))
      .orderBy(col("label"))
  }

  // ---------------------------------------------------------------- q197
  /** Quality-decile × duplication cross-signal: docs ranked into
    * deciles by the q19 quality score (distributed ordinal, no global
    * window), each decile's near-dup involvement in exact ppm — the
    * "is low-quality text also the duplicated text" readout that
    * decides whether dedup subsumes quality filtering. 15th pair-
    * artifact consumer.
    */
  def q197QualityDupDeciles(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(col("doc_id"),
      functions.TextAnalysis.qualityScore(col("text")).as("q"))
    val ranked = operators.Ordinals.withOrderedOrdinal(scored,
      Seq(col("q"), col("doc_id")), "__rn")
    val n = ranked.count() // one scalar action; decile arithmetic is DIV
    val dec = ranked.withColumn("decile",
      expr(s"((__rn - 1) * 10) DIV $n + 1"))
    val dupDocs = dedupPairs(s, d).select(col("id1").as("id"))
      .unionAll(dedupPairs(s, d).select(col("id2").as("id")))
      .select(pmod(col("id"), lit(1000000L)).as("doc_id")).distinct()
      .withColumn("dup", lit(1L))
    dec.join(dupDocs, Seq("doc_id"), "left")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_ppm", expr("(n_dup * 1000000) DIV n_docs"))
      .orderBy(col("decile"))
  }

  // ---------------------------------------------------------------- q220
  /** IDF-weighted Jaccard near-dup pairs over the planted-dup corpus
    * ([[operators.TextDedup.weightedJaccardPairs]]): rare shared
    * content dominates, ubiquitous boilerplate shingles score ~0 —
    * the dedup refinement plain Jaccard lacks. Integer milli-weights
    * (one rounded ln per shingle type), exact BIGINT weight sums, one
    * rounded divide per pair.
    */
  def q220WeightedJaccard(s: SparkSession, d: String): DataFrame =
    operators.TextDedup.weightedJaccardPairs(
        dedupCorpus(s, d), "doc_id", "text", k = 3, threshold = 0.25)
      .orderBy(col("id1"), col("id2"))

  // ---------------------------------------------------------------- q222
  /** Cross-source duplication matrix: near-dup pairs from the shared
    * PPJoin artifact mapped to their base documents' sources (synthetic
    * +1M/+2M copies fold onto their originals), counted per unordered
    * source pair — WHICH corpora duplicate EACH OTHER, the governance
    * view q193's per-source rate cannot give. 17th pair-artifact
    * consumer; two broadcast-sized joins and one hash agg.
    */
  def q222SourceDupMatrix(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    dedupPairs(s, d)
      .select((col("id1") % 1000000L).as("b1"),
        (col("id2") % 1000000L).as("b2"))
      .join(src.select(col("doc_id").as("b1"), col("source").as("s1")),
        Seq("b1"))
      .join(src.select(col("doc_id").as("b2"), col("source").as("s2")),
        Seq("b2"))
      .groupBy(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------- q229
  /** EMBEDDING-level cross-set decontamination
    * ([[operators.Decontamination.embeddingContamination]]) — the
    * semantic complement of q68's n-gram tier: eval = vec_id < 100
    * held out as the benchmark, train = the rest PLUS planted exact
    * copies of every 7th eval vector (shifted ids) — the
    * contamination a paraphrase slips past shingles. Flagged train
    * rows carry the hit count, the argmax eval id (ties to smallest)
    * and the 6-dp max cosine; the oracle replays the SAME
    * deterministic hyperplane bands and exact-cosine verification.
    */
  def q229EmbeddingDecontamination(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val eval = e.filter(col("vec_id") < 100)
    val train = e.filter(col("vec_id") >= 100)
      .unionAll(e.filter(col("vec_id") < 100 && col("vec_id") % 7 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          col("embedding"), col("label")))
    operators.Decontamination.embeddingContamination(train, eval,
        threshold = 0.85, bucketCol = Some("label"))
      .orderBy(col("train_id"))
  }

  // ---------------------------------------------------------------- q256
  /** Greedy k-center coreset ([[operators.Coreset.kCenter]], Gonzalez
    * farthest-point traversal, k=8) over the embeddings: the
    * diversity-selection primitive for training-data curation — pick
    * the 8 maximally-spread vectors and certify the spread with the
    * non-increasing coverage-radius sequence (the classic 2-approx
    * bound). Distances are exact BIGINT micro-unit² sums (DECIMAL(18,6)
    * quantization, the q99 engine-proven cast), seeding and argmax
    * tie-breaks are by lowest id, so the oracle replays all 8 rounds
    * verbatim: per round, one min-distance update against the newest
    * center and a top-1 scan. On Spark each round is map-side only —
    * the newest center travels as a literal array, no shuffle, no
    * broadcast exchange; the corpus never leaves the executors.
    */
  def q256KcenterCoreset(s: SparkSession, d: String): DataFrame =
    operators.Coreset.kCenter(embeddings(s, d), "vec_id", "embedding",
        k = 8)
      .orderBy(col("sel_order"))

  // ---------------------------------------------------------------- q260
  /** Product-quantization ANN recall
    * ([[operators.ProductQuantization.pqRecall]], Jégou et al. TPAMI
    * 2011): split the 64-dim embeddings into m=2 halves, train a
    * 4-centroid spherical codebook per half (the q89 k-means
    * discipline on sliced vectors), store each corpus vector as two
    * codes, and answer the q26 queries by ADC — per-query lookup
    * terms against the codebooks, 6-dp-rounded and DECIMAL-summed so
    * ranking is engine-exact. Published as per-query recall vs the
    * exact brute-force top-5 (integer ppm): the compression-vs-recall
    * trade a 100 TB vector store actually tunes, with the corpus side
    * shrunk from 64 floats to 2 codes and scoring done entirely
    * against the broadcast m·k lookup table. The oracle replays
    * training, encoding, ADC ranking, and the recall join verbatim.
    */
  def q260PqAnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val corpus = e.filter(col("vec_id") >= 10)
    operators.ProductQuantization.pqRecall(queries, corpus,
      m = 2, k = 4, iters = 2, topK = 5)
  }

  // ---------------------------------------------------------------- q283
  /** q260's PQ-ANN recall served from a PERSISTED index
    * ([[graft.index.IndexStore]]): the codebooks AND the encoded code
    * table are trained at most once per (corpus content, trainer
    * version) and land in the content-addressed store with a versioned
    * manifest; every later run — this one included, after its first
    * execution — LOADS them and pays only the ADC scoring. The oracle
    * replays the full training, so a hash match here is the formal
    * load-equals-retrain proof. At 100 TB this is the difference
    * between "train the index once" and "re-train it inside every
    * query that touches the vector column".
    */
  def q283PqIndexReuse(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val corpus = e.filter(col("vec_id") >= 10)
    val key = index.IndexStore.inputKey(d)
    val params = Map("m" -> "2", "k" -> "4", "iters" -> "2")
    val cb = index.IndexStore.getOrTrain(s, "pq_codebooks_embeddings",
        "r12-1", key, params) {
      operators.ProductQuantization.fitCodebooks(
        corpus, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    }
    val enc = index.IndexStore.getOrTrain(s, "pq_codes_embeddings",
        "r12-1", key, params) {
      operators.ProductQuantization.encode(
        corpus, "vec_id", "embedding", cb, m = 2)
    }
    operators.ProductQuantization.pqRecallWithIndex(
      queries, corpus, cb, enc, m = 2, topK = 5)
  }

  // ---------------------------------------------------------------- q316
  /** q27's IVF-ANN served from a PERSISTED coarse quantizer (the q283
    * pattern, second artifact class): the per-label centroids train at
    * most once per (corpus content, trainer version) into
    * [[graft.index.IndexStore]]; every later run LOADS them and pays
    * only the nprobe + exact scoring. The oracle replays the full
    * centroid training, so a hash match is the formal load ≡ retrain
    * proof for the IVF artifact class.
    */
  def q316IvfIndexReuse(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = index.IndexStore.getOrTrain(s, "ivf_centroids_embeddings",
        "r13-1", index.IndexStore.inputKey(d), Map("bucket" -> "label")) {
      operators.Similarity.centroids(corpus, "label", "embedding")
    }
    operators.Similarity.ivfTopKWithCentroids(queries, corpus, cents,
        k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q318
  /** q78's int8-quantized ANN served from a PERSISTED calibration
    * table (third artifact class): the per-dimension (min, max) ranges
    * — the part of int8 quantization that reads the whole corpus —
    * load from [[graft.index.IndexStore]] instead of rescanning every
    * run; quantization and integer-dot ranking then touch only the
    * probe/corpus rows the query needs. Oracle replays the full
    * calibration: hash match = load ≡ retrain for the calibration
    * artifact class.
    */
  def q318Int8IndexReuse(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val calib = index.IndexStore.getOrTrain(s, "int8_calibration_embeddings",
        "r13-1", index.IndexStore.inputKey(d)) {
      operators.Quantization.calibrate(e, "embedding")
    }
    val q = operators.Quantization
      .quantize(e.filter(col("vec_id") < 10), "vec_id", "embedding", calib)
      .select(col("vec_id").as("query_id"), col("qvec").as("qv"))
    val c = operators.Quantization
      .quantize(e.filter(col("vec_id") >= 10), "vec_id", "embedding", calib)
    val scored = c.crossJoin(broadcast(q))
      .withColumn("qdot", operators.Quantization.qdot(col("qv"), col("qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("qdot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("qdot"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q274
  /** MMR diversified retrieval ([[operators.Similarity.mmrRerank]],
    * λ=0.7): exact top-20 candidates for query vector 0, then the
    * greedy relevance-vs-redundancy rerank down to 5 — the standard
    * retrieval-diversification step between ANN recall (q26) and a
    * generation prompt. The distributed part is the candidate scan
    * (TakeOrderedAndProject top-20, never a full sort); the greedy
    * loop is O(20²) driver arithmetic over the bounded rerank window,
    * every comparison on HALF_UP-6dp-rounded cosines so the oracle's
    * unrolled greedy picks identically.
    */
  def q274MmrRerank(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    operators.Similarity.mmrRerank(
      e.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec")),
      e.filter(col("vec_id") >= 10),
      k = 5, window = 20, lambda = 0.7)
  }

  /** One greedy MMR round as SQL: remaining candidates scored against
    * the union of earlier picks, the argmax materialized. */
  private def mmrRoundSql(r: Int): String = {
    val sel = (1 until r).map(j => s"SELECT vec_id FROM s$j")
      .mkString(" UNION ALL ")
    s"""m$r AS (SELECT c.vec_id, c.rel,
       |    round(CAST(0.7 AS DOUBLE) * c.rel
       |      - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(p.s), 6)
       |      + 0.0 AS sc
       |  FROM cand c JOIN p ON p.ia = c.vec_id AND p.ib IN ($sel)
       |  WHERE c.vec_id NOT IN ($sel) GROUP BY 1, 2),
       |s$r AS MATERIALIZED (SELECT vec_id, rel, sc FROM m$r
       |  ORDER BY sc DESC, vec_id LIMIT 1)""".stripMargin
  }

  private[graft] def queriesDedup: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q274_mmr_rerank" -> (q274MmrRerank _),
    "q260_pq_ann" -> (q260PqAnn _),
    "q283_pq_index_reuse" -> (q283PqIndexReuse _),
    "q256_kcenter_coreset" -> (q256KcenterCoreset _),
    "q229_embedding_decontamination" -> (q229EmbeddingDecontamination _),
    "q22_exact_dedup" -> (q22ExactDedup _),
    "q23_minhash_lsh" -> (q23MinhashLsh _),
    "q24_ngram_jaccard" -> (q24NgramJaccard _),
    "q25_simhash" -> (q25Simhash _),
    "q26_ann_topk" -> (q26AnnTopK _),
    "q27_ann_ivf" -> (q27AnnIvf _),
    "q316_ivf_index_reuse" -> (q316IvfIndexReuse _),
    "q318_int8_index_reuse" -> (q318Int8IndexReuse _),
    "q28_embedding_near_dup" -> (q28EmbeddingNearDup _),
    "q61_lev_neardup" -> (q61LevNearDup _),
    "q65_incremental_neardup" -> (q65IncrementalNearDup _),
    "q67_dedup_clusters" -> (q67DedupClusters _),
    "q68_decontamination" -> (q68Decontamination _),
    "q72_substring_spans" -> (q72SubstringSpans _),
    "q78_quantized_ann" -> (q78QuantizedAnn _),
    "q89_kmeans" -> (q89Kmeans _),
    "q97_embedding_clusters" -> (q97EmbeddingClusters _),
    "q99_pca_covariance" -> (q99PcaCovariance _),
    "q101_source_overlap" -> (q101SourceOverlap _),
    "q286_sketched_overlap" -> (q286SketchedOverlap _),
    "q102_mutual_knn" -> (q102MutualKnn _),
    "q314_knn_adaptive" -> (q314MutualKnnAdaptive _),
    "q315_knn_adaptive_recall" -> (q315KnnAdaptiveRecall _),
    "q103_dsir" -> (q103Dsir _),
    "q324_planted_recall" -> (q324PlantedRecall _),
    "q104_canonical_dedup" -> (q104CanonicalDedup _),
    "q108_lsh_recall" -> (q108LshRecall _),
    "q113_dup_provenance" -> (q113DupProvenance _),
    "q116_simhash_pairs" -> (q116SimhashPairs _),
    "q126_leakage_split" -> (q126LeakageSplit _),
    "q137_purged_split" -> (q137PurgedSplit _),
    "q139_hard_negatives" -> (q139HardNegatives _),
    "q143_fuzzy_blocking" -> (q143FuzzyBlocking _),
    "q155_sorted_neighborhood" -> (q155SortedNeighborhood _),
    "q160_jaro_winkler" -> (q160JaroWinkler _),
    "q165_containment" -> (q165Containment _),
    "q167_dup_source_matrix" -> (q167DupSourceMatrix _),
    "q187_jl_recall" -> (q187JlRecall _),
    "q193_source_dup_rate" -> (q193SourceDupRate _),
    "q196_vector_hygiene" -> (q196VectorHygiene _),
    "q197_quality_dup_deciles" -> (q197QualityDupDeciles _),
    "q220_weighted_jaccard" -> (q220WeightedJaccard _),
    "q222_source_dup_matrix" -> (q222SourceDupMatrix _))

  /** One subspace's PQ pipeline as CTEs (prefix `s$s`): sliced points,
    * the q89 two-round spherical k-means replay, the encode argmax,
    * and the query lookup-term table. `lo..hi` is the 1-based slice.
    */
  private def pqSubspaceSql(s: Int, lo: Int, hi: Int): String = {
    val p = s"s$s"
    def rnd(i: Int): String = {
      val (prev, a, u, c) = (s"${p}c${i - 1}", s"${p}a$i", s"${p}u$i",
        s"${p}c$i")
      s"""$a AS (SELECT pid, v, cid FROM (
         |  SELECT p.pid, p.v, $prev.cid,
         |   row_number() OVER (PARTITION BY p.pid
         |    ORDER BY ${sqlCosine("p.v", s"$prev.c")} DESC, $prev.cid) AS rn
         |  FROM ${p}pts p, $prev) WHERE rn = 1),
         |$u AS (SELECT cid, dim,
         |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
         | FROM (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x
         |       FROM $a) GROUP BY cid, dim),
         |$c AS (SELECT cid, list(m ORDER BY dim) AS c FROM $u GROUP BY cid
         | UNION ALL SELECT cid, c FROM $prev
         |  WHERE cid NOT IN (SELECT cid FROM $u))""".stripMargin
    }
    s"""${p}pts AS (SELECT pid, v[$lo:$hi] AS v FROM cpts),
       |${p}c0 AS (SELECT row_number() OVER (ORDER BY pid) AS cid, v AS c
       |  FROM (SELECT pid, v FROM ${p}pts ORDER BY pid LIMIT 4)),
       |${rnd(1)},
       |${rnd(2)},
       |${p}enc AS (SELECT pid, cid FROM (
       |  SELECT p.pid, cb.cid,
       |   row_number() OVER (PARTITION BY p.pid
       |    ORDER BY ${sqlCosine("p.v", "cb.c")} DESC, cb.cid) AS rn
       |  FROM ${p}pts p, ${p}c2 cb) WHERE rn = 1),
       |${p}lut AS (SELECT q.pid AS query_id, cb.cid,
       |  CAST(round(list_dot_product(q.v[$lo:$hi], cb.c), 6)
       |    AS DECIMAL(18,6)) AS term
       | FROM qpts q, ${p}c2 cb)""".stripMargin
  }

  /** The q27 IVF-ANN replay (coarse-centroid training + nprobe + exact
    * scoring) — shared verbatim by q316, whose Spark side LOADS the
    * centroids from [[graft.index.IndexStore]]: identical hash against
    * this full-retrain replay IS the load ≡ retrain proof. */
  private def ivfAnnSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id >= 10),
       |ex AS (SELECT label, generate_subscripts(cv, 1) AS dim, unnest(cv) AS x FROM c),
       |cm AS (SELECT label, dim,
       |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
       | FROM ex GROUP BY label, dim),
       |cent AS (SELECT label, list(m ORDER BY dim) AS centroid FROM cm GROUP BY label),
       |probe AS (SELECT query_id, qv, label FROM (
       |  SELECT q.query_id, q.qv, cent.label,
       |   row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY ${sqlCosine("q.qv", "cent.centroid")} DESC, cent.label) AS crank
       |  FROM q, cent) WHERE crank <= 3),
       |scored AS (SELECT p.query_id, c.vec_id, ${sqlCosine("p.qv", "c.cv")} AS sim
       | FROM probe p JOIN c ON c.label = p.label),
       |r AS (SELECT query_id, vec_id, sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(sim, 6) AS sim
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The q78 int8-ANN replay (per-dim min/max calibration + quantize +
    * integer dot ranking) — shared verbatim by q318, whose Spark side
    * LOADS the calibration table from [[graft.index.IndexStore]]. */
  private def int8AnnSql: String =
    """WITH ex AS (SELECT vec_id,
      |  generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
      |  unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
      |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim),
      |qe AS (SELECT vec_id, ex.dim,
      |  CASE WHEN mx = mn THEN 0 ELSE floor((x - mn) / (mx - mn) * 255) END AS q
      | FROM ex JOIN st ON st.dim = ex.dim),
      |qq AS (SELECT vec_id, dim, q FROM qe WHERE vec_id < 10),
      |cc AS (SELECT vec_id, dim, q FROM qe WHERE vec_id >= 10),
      |dot AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
      |  CAST(sum(CAST(qq.q AS BIGINT) * CAST(cc.q AS BIGINT)) AS BIGINT) AS qdot
      | FROM qq JOIN cc ON qq.dim = cc.dim GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, qdot,
      |  row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
      | FROM dot)
      |SELECT query_id, rank, neighbor_id, qdot FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** The q260 PQ-ANN replay (training + encoding + ADC + recall)
    * — shared verbatim by q283, whose Spark side LOADS the trained
    * index from [[graft.index.IndexStore]] instead of retraining:
    * an identical result hash against this replay IS the proof
    * that load == retrain. */
  private def pqAnnSql: String =
      // two subspace codebooks trained/encoded exactly as q89 on the
      // sliced vectors; ADC = DECIMAL sum of the two 6-dp lookup
      // terms; recall joins the approx top-5 against the exact
      // cosine top-5 (the q26 replay)
      s"""WITH cpts AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id >= 10),
         |qpts AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 10),
         |${pqSubspaceSql(1, 1, 32)},
         |${pqSubspaceSql(2, 33, 64)},
         |enc AS (SELECT pid, 1 AS subspace, cid FROM s1enc
         |  UNION ALL SELECT pid, 2, cid FROM s2enc),
         |lut AS (SELECT query_id, 1 AS subspace, cid, term FROM s1lut
         |  UNION ALL SELECT query_id, 2, cid, term FROM s2lut),
         |sc AS (SELECT l.query_id, e.pid,
         |    CAST(sum(l.term) AS DOUBLE) AS score
         |  FROM enc e JOIN lut l ON l.subspace = e.subspace
         |    AND l.cid = e.cid
         |  GROUP BY 1, 2),
         |ap AS (SELECT query_id, pid FROM (
         |  SELECT query_id, pid, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, pid) AS rk FROM sc) WHERE rk <= 5),
         |exq AS (SELECT query_id, nid FROM (
         |  SELECT q.pid AS query_id, c.pid AS nid,
         |   row_number() OVER (PARTITION BY q.pid
         |    ORDER BY ${sqlCosine("q.v", "c.v")} DESC, c.pid) AS rk
         |  FROM qpts q, cpts c) WHERE rk <= 5),
         |hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exq e JOIN ap ON ap.query_id = e.query_id
         |    AND ap.pid = e.nid
         |  GROUP BY 1)
         |SELECT q.pid AS query_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
         |    AS recall_ppm
         |FROM qpts q LEFT JOIN hits h ON h.query_id = q.pid
         |ORDER BY query_id""".stripMargin

  private[graft] def oracleSqlDedup: Map[String, String] = Map(
    "q260_pq_ann" -> pqAnnSql,
    "q283_pq_index_reuse" -> pqAnnSql,
    "q256_kcenter_coreset" -> {
      // one Gonzalez round: top-1 farthest survivor becomes center i,
      // then the running min-distance updates against it. Distances
      // are exact BIGINT micro-unit² sums (dim-exploded join — no
      // float, no lambda); sum() is cast back from HUGEINT.
      def round(i: Int): String = {
        val (prev, c, dd, m) = (s"m${i - 1}", s"c$i", s"d$i", s"m$i")
        s"""$c AS (SELECT pid, md FROM $prev WHERE md > 0
           |  ORDER BY md DESC, pid LIMIT 1),
           |$dd AS (SELECT e.pid,
           |    CAST(sum((e.x - ce.x) * (e.x - ce.x)) AS BIGINT) AS dd
           |  FROM ex e JOIN (SELECT dim, x FROM ex
           |    WHERE pid = (SELECT pid FROM $c)) ce USING (dim)
           |  GROUP BY e.pid),
           |$m AS (SELECT m.pid, least(m.md, d.dd) AS md
           |  FROM $prev m JOIN $dd d USING (pid))""".stripMargin
      }
      val rounds = (2 to 8).map(round).mkString(",\n")
      val selRows = (2 to 8)
        .map(i => s"UNION ALL SELECT $i, pid, md FROM c$i").mkString("\n")
      val covRows = (2 to 8)
        .map(i => s"UNION ALL SELECT $i, (SELECT max(md) FROM m$i)")
        .mkString("\n")
      s"""WITH pts AS (SELECT vec_id AS pid,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS v
         |  FROM embeddings),
         |ex AS (SELECT pid, generate_subscripts(v, 1) AS dim, unnest(v) AS x
         |  FROM pts),
         |c1 AS (SELECT pid FROM pts ORDER BY pid LIMIT 1),
         |m1 AS (SELECT e.pid,
         |    CAST(sum((e.x - ce.x) * (e.x - ce.x)) AS BIGINT) AS md
         |  FROM ex e JOIN (SELECT dim, x FROM ex
         |    WHERE pid = (SELECT pid FROM c1)) ce USING (dim)
         |  GROUP BY e.pid),
         |$rounds,
         |sel AS (SELECT CAST(1 AS BIGINT) AS sel_order, pid,
         |    CAST(0 AS BIGINT) AS sel_dist_sq FROM c1
         |$selRows),
         |cov AS (SELECT CAST(1 AS BIGINT) AS sel_order,
         |    (SELECT CAST(max(md) AS BIGINT) FROM m1) AS coverage_sq
         |$covRows)
         |SELECT s.sel_order, s.pid AS vec_id, s.sel_dist_sq, c.coverage_sq
         |FROM sel s JOIN cov c USING (sel_order)
         |ORDER BY sel_order""".stripMargin
    },
    "q22_exact_dedup" ->
      s"""WITH $SqlCorpus
         |SELECT min(doc_id) AS keep_id, count(*) AS group_size,
         | md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |FROM corpus GROUP BY fp ORDER BY keep_id""".stripMargin,
    "q23_minhash_lsh" -> {
      // universal-hash family over ONE md5 per shingle — mirrors
      // TextDedup.minhashBase / minhashSignature exactly
      val p = operators.TextDedup.MinhashPrime
      val sigCols = (0 until 12).map { j =>
        val (a, b) = operators.TextDedup.minhashParams(j)
        s"min(($a * hh + $b) % $p) AS s$j"
      }.mkString(",\n ")
      def bandExpr(cols: Seq[Int]): String =
        "md5(" + cols.map(j => s"CAST(s$j AS VARCHAR)").mkString(" || '|' || ") + ")"
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |hh0 AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % $p AS hh FROM s),
         |sig AS (SELECT doc_id, $sigCols FROM hh0 GROUP BY doc_id),
         |band AS (SELECT doc_id,
         | ${bandExpr(Seq(0, 1, 2))} AS b0,
         | ${bandExpr(Seq(3, 4, 5))} AS b1,
         | ${bandExpr(Seq(6, 7, 8))} AS b2,
         | ${bandExpr(Seq(9, 10, 11))} AS b3 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         | FROM band a JOIN band b ON a.doc_id < b.doc_id
         |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jac AS (SELECT c.id1, c.id2,
         |  CAST(com.common AS DOUBLE) / CAST(n1.n + n2.n - com.common AS DOUBLE) AS jaccard
         | FROM cand c JOIN com ON com.id1 = c.id1 AND com.id2 = c.id2
         | JOIN n n1 ON n1.doc_id = c.id1 JOIN n n2 ON n2.doc_id = c.id2)
         |SELECT id1, id2, round(jaccard, 6) AS jaccard FROM jac
         |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin
    },
    "q24_ngram_jaccard" ->
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jac AS (SELECT com.id1, com.id2,
         |  CAST(com.common AS DOUBLE) / CAST(n1.n + n2.n - com.common AS DOUBLE) AS jaccard
         | FROM com JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2)
         |SELECT id1, id2, round(jaccard, 6) AS jaccard FROM jac
         |WHERE jaccard >= 0.6 ORDER BY id1, id2""".stripMargin,
    "q25_simhash" ->
      s"""WITH $SqlCorpus,
         |tok AS (SELECT doc_id, $SqlToks AS toks FROM corpus)
         |SELECT doc_id, CAST($SqlSimhash AS BIGINT) AS simhash
         |FROM tok ORDER BY doc_id""".stripMargin,
    "q274_mmr_rerank" ->
      // the greedy unrolled: candidate relevances and pairwise sims
      // rounded 6 dp BEFORE comparison (the operator's contract), the
      // (1−λ) factor computed in doubles exactly as the Scala side's
      // `1.0 - lambda` (≠ a 0.3 literal)
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id >= 10),
         |sc0 AS (SELECT vec_id, cv, ${sqlCosine("qv", "cv")} AS sim
         |  FROM q, c),
         |cand AS MATERIALIZED (SELECT vec_id, cv,
         |    round(sim, 6) + 0.0 AS rel
         |  FROM sc0 WHERE sim IS NOT NULL
         |  ORDER BY sim DESC, vec_id LIMIT 20),
         |p AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    round(${sqlCosine("a.cv", "b.cv")}, 6) AS s
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |s1 AS MATERIALIZED (SELECT vec_id, rel,
         |    round(CAST(0.7 AS DOUBLE) * rel, 6) + 0.0 AS sc
         |  FROM cand ORDER BY round(CAST(0.7 AS DOUBLE) * rel, 6) + 0.0
         |    DESC, vec_id LIMIT 1),
         |${mmrRoundSql(2)},
         |${mmrRoundSql(3)},
         |${mmrRoundSql(4)},
         |${mmrRoundSql(5)}
         |SELECT sel_order, CAST(vec_id AS BIGINT) AS vec_id, rel,
         |  sc AS mmr_score
         |FROM (
         |  SELECT CAST(1 AS BIGINT) AS sel_order, vec_id, rel, sc FROM s1
         |  UNION ALL SELECT CAST(2 AS BIGINT), vec_id, rel, sc FROM s2
         |  UNION ALL SELECT CAST(3 AS BIGINT), vec_id, rel, sc FROM s3
         |  UNION ALL SELECT CAST(4 AS BIGINT), vec_id, rel, sc FROM s4
         |  UNION ALL SELECT CAST(5 AS BIGINT), vec_id, rel, sc FROM s5)
         |ORDER BY sel_order""".stripMargin,
    "q26_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id >= 10),
         |scored AS (SELECT query_id, vec_id, ${sqlCosine("qv", "cv")} AS sim FROM q, c),
         |r AS (SELECT query_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         | FROM scored)
         |SELECT query_id, rank, vec_id AS neighbor_id, round(sim, 6) AS sim
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q27_ann_ivf" -> ivfAnnSql,
    "q316_ivf_index_reuse" -> ivfAnnSql,
    "q28_embedding_near_dup" ->
      s"""WITH $SqlLshPairs
         |SELECT id1, id2, round(sim, 6) AS sim FROM p
         |WHERE sim >= 0.99 ORDER BY id1, id2""".stripMargin,
    "q61_lev_neardup" ->
      s"""WITH $SqlCorpus,
         |tok AS (SELECT doc_id, text, $SqlToks AS toks FROM corpus),
         |k AS (SELECT doc_id, text, array_to_string(
         |  CASE WHEN len(toks) >= 5 THEN list_slice(toks, len(toks) - 4, len(toks))
         |       ELSE toks END, ' ') AS suffix_key FROM tok)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         | CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
         |FROM k a JOIN k b ON a.suffix_key = b.suffix_key AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.text, b.text) <= 40
         |ORDER BY id1, id2""".stripMargin,
    "q65_incremental_neardup" -> {
      val p = operators.TextDedup.MinhashPrime
      val sigCols = (0 until 12).map { j =>
        val (a, b) = operators.TextDedup.minhashParams(j)
        s"min(($a * hh + $b) % $p) AS s$j"
      }.mkString(",\n ")
      def bandExpr(cols: Seq[Int]): String =
        "md5(" + cols.map(j => s"CAST(s$j AS VARCHAR)").mkString(" || '|' || ") + ")"
      def side(name: String, src: String): String =
        s"""tok_$name AS (SELECT doc_id, $SqlToks AS toks FROM $src),
           |shl_$name AS (SELECT doc_id,
           | CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
           |      ELSE list_transform(generate_series(1, len(toks) - 2),
           |            i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END AS shingles
           | FROM tok_$name),
           |s_$name AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shl_$name),
           |hh_$name AS (SELECT doc_id,
           |  CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % $p AS hh FROM s_$name),
           |sig_$name AS (SELECT doc_id, $sigCols FROM hh_$name GROUP BY doc_id),
           |band_$name AS (SELECT doc_id,
           | ${bandExpr(Seq(0, 1, 2))} AS b0,
           | ${bandExpr(Seq(3, 4, 5))} AS b1,
           | ${bandExpr(Seq(6, 7, 8))} AS b2,
           | ${bandExpr(Seq(9, 10, 11))} AS b3 FROM sig_$name),
           |n_$name AS (SELECT doc_id, count(*) AS n FROM s_$name GROUP BY doc_id)""".stripMargin
      s"""WITH idx AS (SELECT doc_id, text FROM documents),
         |prb AS (SELECT doc_id + 2000000 AS doc_id,
         |  regexp_replace(text, '^(\\S+\\s+){3}', '') AS text
         | FROM documents WHERE doc_id % 7 = 0),
         |${side("i", "idx")},
         |${side("q", "prb")},
         |cand AS (SELECT DISTINCT q.doc_id AS new_id, i.doc_id AS corpus_id
         | FROM band_q q JOIN band_i i
         |  ON q.b0 = i.b0 OR q.b1 = i.b1 OR q.b2 = i.b2 OR q.b3 = i.b3),
         |com AS (SELECT q.doc_id AS new_id, i.doc_id AS corpus_id, count(*) AS common
         | FROM s_q q JOIN s_i i ON q.sh = i.sh GROUP BY 1, 2),
         |jac AS (SELECT c.new_id, c.corpus_id,
         |  CAST(com.common AS DOUBLE) /
         |    CAST(nq.n + ni.n - com.common AS DOUBLE) AS jaccard
         | FROM cand c
         | JOIN com ON com.new_id = c.new_id AND com.corpus_id = c.corpus_id
         | JOIN n_q nq ON nq.doc_id = c.new_id
         | JOIN n_i ni ON ni.doc_id = c.corpus_id)
         |SELECT new_id, corpus_id, round(jaccard, 6) AS jaccard FROM jac
         |WHERE jaccard >= 0.5 ORDER BY new_id, corpus_id""".stripMargin
    },
    "q67_dedup_clusters" ->
      s"""WITH RECURSIVE $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,
    "q68_decontamination" ->
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |bdoc AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |btok AS (SELECT doc_id, $SqlToks AS toks FROM bdoc),
         |bshl AS (SELECT doc_id,
         | CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |      ELSE list_transform(generate_series(1, len(toks) - 2),
         |            i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END AS shingles
         | FROM btok),
         |bsh AS (SELECT DISTINCT sh FROM (SELECT unnest(shingles) AS sh FROM bshl) WHERE sh <> ''),
         |m AS (SELECT s.doc_id, count(*) AS n_matched
         | FROM s JOIN bsh ON s.sh = bsh.sh GROUP BY 1),
         |n AS (SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY 1)
         |SELECT n.doc_id, n.n_shingles, coalesce(m.n_matched, 0) AS n_matched,
         | round(CAST(coalesce(m.n_matched, 0) AS DOUBLE)
         |   / CAST(n.n_shingles AS DOUBLE), 6) AS contam_frac,
         | CAST(CAST(coalesce(m.n_matched, 0) AS DOUBLE)
         |   / CAST(n.n_shingles AS DOUBLE) >= 0.5 AS BIGINT) AS is_contaminated
         |FROM n LEFT JOIN m ON m.doc_id = n.doc_id ORDER BY n.doc_id""".stripMargin,
    "q72_substring_spans" ->
      s"""WITH $SqlCorpus,
         |t AS (SELECT doc_id, $SqlToks AS toks FROM corpus),
         |tn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |gp AS (SELECT doc_id, toks,
         |  unnest(generate_series(CAST(1 AS BIGINT), n - 14)) AS pos
         | FROM tn WHERE n >= 15),
         |g AS (SELECT doc_id, pos,
         |  md5(array_to_string(list_slice(toks, pos, pos + 14), ' ')) AS h FROM gp),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |ds AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |c AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL THEN 15
         |       ELSE least(15, pos - lag(pos) OVER w) END AS contrib
         | FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |agg AS (SELECT doc_id, count(*) AS n_dup_grams,
         |  sum(contrib) AS covered FROM c GROUP BY doc_id)
         |SELECT tn.doc_id, CAST(tn.n AS BIGINT) AS n_tokens,
         | CAST(coalesce(agg.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
         | CAST(coalesce(agg.covered, 0) AS BIGINT) AS covered_tokens,
         | CASE WHEN tn.n > 0 THEN
         |   round(CAST(coalesce(agg.covered, 0) AS DOUBLE) / CAST(tn.n AS DOUBLE), 6)
         |  ELSE 0.0 END AS dup_frac
         |FROM tn LEFT JOIN agg ON agg.doc_id = tn.doc_id
         |ORDER BY tn.doc_id""".stripMargin,
    "q78_quantized_ann" -> int8AnnSql,
    "q318_int8_index_reuse" -> int8AnnSql,
    "q89_kmeans" -> {
      // one Lloyd's round: assign to argmax cosine (ties → lowest cid),
      // then per-dim DECIMAL-exact mean; empty clusters keep their centroid
      def round(i: Int): String = {
        val (prev, a, u, c) = (s"c${i - 1}", s"a$i", s"u$i", s"c$i")
        s"""$a AS (SELECT pid, v, cid FROM (
           |  SELECT p.pid, p.v, $prev.cid,
           |   row_number() OVER (PARTITION BY p.pid
           |    ORDER BY ${sqlCosine("p.v", s"$prev.c")} DESC, $prev.cid) AS rn
           |  FROM pts p, $prev) WHERE rn = 1),
           |$u AS (SELECT cid, dim,
           |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
           | FROM (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x
           |       FROM $a) GROUP BY cid, dim),
           |$c AS (SELECT cid, list(m ORDER BY dim) AS c FROM $u GROUP BY cid
           | UNION ALL SELECT cid, c FROM $prev
           |  WHERE cid NOT IN (SELECT cid FROM $u))""".stripMargin
      }
      s"""WITH pts AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY pid) AS cid, v AS c
         |  FROM (SELECT pid, v FROM pts ORDER BY pid LIMIT 4)),
         |${round(1)},
         |${round(2)},
         |af AS (SELECT pid, cid FROM (
         |  SELECT p.pid, c2.cid,
         |   row_number() OVER (PARTITION BY p.pid
         |    ORDER BY ${sqlCosine("p.v", "c2.c")} DESC, c2.cid) AS rn
         |  FROM pts p, c2) WHERE rn = 1),
         |n AS (SELECT cid, count(*) AS n_points FROM af GROUP BY cid)
         |SELECT cluster_id, n_points, dim, round(x, 6) AS value FROM (
         |  SELECT c2.cid AS cluster_id,
         |   coalesce(n.n_points, CAST(0 AS BIGINT)) AS n_points,
         |   CAST(generate_subscripts(c2.c, 1) AS BIGINT) AS dim,
         |   unnest(c2.c) AS x
         |  FROM c2 LEFT JOIN n ON n.cid = c2.cid)
         |ORDER BY cluster_id, dim""".stripMargin
    },
    "q97_embedding_clusters" ->
      s"""WITH RECURSIVE $SqlLshPairs,
         |pair AS (SELECT id1, id2 FROM p WHERE sim >= 0.99),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY vec_id""".stripMargin,
    "q99_pca_covariance" ->
      // DECIMAL(18,10)-quantized inputs; products carry scale 20
      // exactly in both engines (Spark DECIMAL(37,20), DuckDB (36,20)),
      // so the moment sums are bit-identical and the final double
      // arithmetic + round(6) is engine-independent.
      s"""WITH ex AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |         CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(18,10)) AS x
         |  FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |s AS (SELECT i, CAST(sum(x) AS DOUBLE) AS sx FROM ex GROUP BY i),
         |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS DOUBLE) AS sxy
         |      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
         |      GROUP BY 1, 2)
         |SELECT p.i, p.j, round((sxy - si.sx * sj.sx / nn.n) / nn.n, 6) + 0.0 AS cov
         |FROM p
         |JOIN s si ON si.i = p.i
         |JOIN s sj ON sj.i = p.j
         |CROSS JOIN nn
         |ORDER BY p.i, p.j""".stripMargin,
    "q286_sketched_overlap" ->
      // per-source bottom-64 of 48-bit token-md5 hashes (kmv_lows
      // dedups; the rank walk replays it), union re-ranked per pair,
      // membership via count(DISTINCT side); exact-integer ppm
      s"""WITH tk AS (
         |  SELECT DISTINCT source AS g,
         |    CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h
         |  FROM (SELECT source, unnest($SqlToks) AS w FROM documents)),
         |sk AS (SELECT g, h FROM (
         |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
         |      AS rk FROM tk)
         |  WHERE rk <= 64),
         |gs AS (SELECT DISTINCT g FROM sk),
         |px AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b
         |  ON a.g < b.g),
         |un AS (SELECT px.ga, px.gb, s.h,
         |    CAST(count(DISTINCT s.g) AS BIGINT) AS m
         |  FROM px JOIN sk s ON s.g = px.ga OR s.g = px.gb
         |  GROUP BY 1, 2, 3),
         |ru AS (SELECT ga, gb, h, m,
         |    row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
         |  FROM un)
         |SELECT ga AS g_a, gb AS g_b,
         |  CAST(count(*) AS BIGINT) AS union_k,
         |  CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS common_k,
         |  CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS jaccard_est_ppm
         |FROM ru WHERE rk <= 64
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q101_source_overlap" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT source AS g, unnest($SqlToks) AS w FROM documents),
         |sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY g),
         |pairs AS (
         |  SELECT a.g AS g_a, a.n AS vocab_a, b.g AS g_b, b.n AS vocab_b
         |  FROM sizes a JOIN sizes b ON a.g < b.g),
         |inter AS (
         |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS common
         |  FROM vocab a JOIN vocab b ON a.w = b.w AND a.g < b.g
         |  GROUP BY 1, 2)
         |SELECT p.g_a, p.g_b, p.vocab_a, p.vocab_b,
         |  coalesce(i.common, 0) AS common,
         |  round(CAST(coalesce(i.common, 0) AS DOUBLE) /
         |        CAST(p.vocab_a + p.vocab_b - coalesce(i.common, 0) AS DOUBLE), 6)
         |    + 0.0 AS jaccard
         |FROM pairs p LEFT JOIN inter i ON i.g_a = p.g_a AND i.g_b = p.g_b
         |ORDER BY p.g_a, p.g_b""".stripMargin,
    "q102_mutual_knn" -> {
      // replay knnEdgesLsh's banding: 24 planes, 6 bands x 4 bits,
      // candidates = pairs sharing ANY band key (equi-join on the
      // exploded (band_idx, key) rows — the same join the Spark plan
      // runs) AFTER dropping band buckets wider than the hot-bucket
      // cap (8192 — never binds at this sf, replayed for structural
      // parity), then each side's top-4 over its candidate set only.
      val (bitCols, bandCols) = sqlBandCols(24, 6)
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT vec_id, v,
         | $bitCols
         | FROM e),
         |band AS (SELECT vec_id, $bandCols FROM bits),
         |eb AS (SELECT vec_id, generate_subscripts(bk, 1) AS band_idx,
         |        unnest(bk) AS bkey
         |       FROM (SELECT vec_id, [b0, b1, b2, b3, b4, b5] AS bk FROM band)),
         |ebw AS (SELECT band_idx, bkey FROM eb
         |        GROUP BY band_idx, bkey HAVING count(*) <= 8192),
         |ebc AS (SELECT eb.vec_id, eb.band_idx, eb.bkey
         |        FROM eb JOIN ebw USING (band_idx, bkey)),
         |cand AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
         |         FROM ebc a JOIN ebc b ON a.band_idx = b.band_idx
         |          AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
         |s AS (SELECT cand.qa, cand.qb, ${sqlCosine("x.v", "y.v")} AS sim
         |      FROM cand JOIN e x ON x.vec_id = cand.qa
         |                JOIN e y ON y.vec_id = cand.qb),
         |r AS (SELECT qa, qb,
         |        row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
         |      FROM s),
         |knn AS (SELECT qa, qb FROM r WHERE rk <= 4),
         |mut AS (SELECT k1.qa AS id1, k1.qb AS id2 FROM knn k1
         |        JOIN knn k2 ON k1.qa = k2.qb AND k1.qb = k2.qa
         |        WHERE k1.qa < k1.qb),
         |edge AS (SELECT id1 AS a, id2 AS b FROM mut
         |         UNION SELECT id2 AS a, id1 AS b FROM mut),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edge
         |  UNION
         |  SELECT r2.src, e2.b FROM reach r2 JOIN edge e2 ON e2.a = r2.dst),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY vec_id""".stripMargin
    },
    "q314_knn_adaptive" -> {
      // replay knnEdgesLshAdaptive: 6 bands x 16-bit FULL keys built
      // statically from the fixed 96-plane family, then r derived from
      // count(*) in exact integer arithmetic (min r: 128·2^r >= n,
      // clamped to [4,16]) and the adapted key = full key // 2^(16-r)
      // — the same values Spark gets by packing only the first r
      // planes of each band's block
      val (bitCols, bandCols) = sqlBandCols(96, 6)
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT vec_id, v,
         | $bitCols
         | FROM e),
         |band AS (SELECT vec_id, $bandCols FROM bits),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |rr AS (SELECT CAST(1 AS BIGINT) << (16 - least(16, greatest(4,
         |        coalesce((SELECT min(g.r) FROM (SELECT unnest(generate_series(0, 16)) AS r) g
         |         CROSS JOIN nn WHERE (CAST(128 AS BIGINT) << g.r) >= nn.n), 16)))) AS d),
         |eb AS (SELECT vec_id, generate_subscripts(bk, 1) AS band_idx,
         |        unnest(bk) // (SELECT d FROM rr) AS bkey
         |       FROM (SELECT vec_id, [b0, b1, b2, b3, b4, b5] AS bk FROM band)),
         |ebw AS (SELECT band_idx, bkey FROM eb
         |        GROUP BY band_idx, bkey HAVING count(*) <= 8192),
         |ebc AS (SELECT eb.vec_id, eb.band_idx, eb.bkey
         |        FROM eb JOIN ebw USING (band_idx, bkey)),
         |cand AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
         |         FROM ebc a JOIN ebc b ON a.band_idx = b.band_idx
         |          AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
         |s AS (SELECT cand.qa, cand.qb, ${sqlCosine("x.v", "y.v")} AS sim
         |      FROM cand JOIN e x ON x.vec_id = cand.qa
         |                JOIN e y ON y.vec_id = cand.qb),
         |r AS (SELECT qa, qb,
         |        row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
         |      FROM s),
         |knn AS (SELECT qa, qb FROM r WHERE rk <= 4),
         |mut AS (SELECT k1.qa AS id1, k1.qb AS id2 FROM knn k1
         |        JOIN knn k2 ON k1.qa = k2.qb AND k1.qb = k2.qa
         |        WHERE k1.qa < k1.qb),
         |edge AS (SELECT id1 AS a, id2 AS b FROM mut
         |         UNION SELECT id2 AS a, id1 AS b FROM mut),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edge
         |  UNION
         |  SELECT r2.src, e2.b FROM reach r2 JOIN edge e2 ON e2.a = r2.dst),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY vec_id""".stripMargin
    },
    "q315_knn_adaptive_recall" -> {
      // exact top-4 for the vec_id % 5 = 0 probe set (O(|probes|·n),
      // the q187 yardstick discipline) vs the SAME adaptive-LSH knn
      // replay as q314; counts and ppm ratios exact integer
      val (bitCols, bandCols) = sqlBandCols(96, 6)
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT vec_id, v,
         | $bitCols
         | FROM e),
         |band AS (SELECT vec_id, $bandCols FROM bits),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |rr AS (SELECT CAST(1 AS BIGINT) << (16 - least(16, greatest(4,
         |        coalesce((SELECT min(g.r) FROM (SELECT unnest(generate_series(0, 16)) AS r) g
         |         CROSS JOIN nn WHERE (CAST(128 AS BIGINT) << g.r) >= nn.n), 16)))) AS d),
         |eb AS (SELECT vec_id, generate_subscripts(bk, 1) AS band_idx,
         |        unnest(bk) // (SELECT d FROM rr) AS bkey
         |       FROM (SELECT vec_id, [b0, b1, b2, b3, b4, b5] AS bk FROM band)),
         |ebw AS (SELECT band_idx, bkey FROM eb
         |        GROUP BY band_idx, bkey HAVING count(*) <= 8192),
         |ebc AS (SELECT eb.vec_id, eb.band_idx, eb.bkey
         |        FROM eb JOIN ebw USING (band_idx, bkey)),
         |cand AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
         |         FROM ebc a JOIN ebc b ON a.band_idx = b.band_idx
         |          AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
         |s AS (SELECT cand.qa, cand.qb, ${sqlCosine("x.v", "y.v")} AS sim
         |      FROM cand JOIN e x ON x.vec_id = cand.qa
         |                JOIN e y ON y.vec_id = cand.qb),
         |r AS (SELECT qa, qb,
         |        row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
         |      FROM s),
         |knn AS (SELECT qa, qb FROM r WHERE rk <= 4),
         |p AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 5 = 0),
         |sc AS (SELECT p.qid, e.vec_id AS nid,
         |        CASE WHEN isnan(${sqlCosine("p.qv", "e.v")}) THEN NULL
         |             ELSE ${sqlCosine("p.qv", "e.v")} END AS sim
         |       FROM p CROSS JOIN e WHERE e.vec_id <> p.qid),
         |ex AS (SELECT qid, nid, sim FROM (SELECT qid, nid, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |       FROM sc) WHERE rk <= 4),
         |h AS (SELECT ex.qid, ex.nid, ex.sim,
         |        CASE WHEN k2.qa IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM ex LEFT JOIN knn k2 ON k2.qa = ex.qid AND k2.qb = ex.nid)
         |SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_probes,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  1000000 * CAST(sum(hit) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS recall_ppm,
         |  CAST(sum(CASE WHEN sim >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_strong,
         |  CAST(sum(CASE WHEN sim >= 0.7 THEN hit ELSE 0 END) AS BIGINT)
         |    AS n_hit_strong,
         |  CASE WHEN sum(CASE WHEN sim >= 0.7 THEN 1 ELSE 0 END) > 0
         |    THEN 1000000 * CAST(sum(CASE WHEN sim >= 0.7 THEN hit ELSE 0 END)
         |      AS BIGINT) // CAST(sum(CASE WHEN sim >= 0.7 THEN 1 ELSE 0 END)
         |      AS BIGINT) END AS recall_strong_ppm
         |FROM h""".stripMargin
    },
    "q324_planted_recall" -> {
      // replay the planted-cluster recall audit end to end: augment the
      // corpus with the same double-exact +0.05 one-coordinate copies,
      // derive r from the AUGMENTED count, band with the full 16-bit
      // static keys >> (16-r), rank candidates, then measure the
      // planted directed pairs against the kNN edge set
      val (bitCols, bandCols) = sqlBandCols(96, 6)
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cp AS (SELECT b.vec_id AS gid,
         |        b.vec_id + 10000000 * c.cp AS vec_id,
         |        list_transform(generate_series(1, 64), j ->
         |          CASE WHEN j = ((b.vec_id + c.cp) % 64) + 1
         |               THEN b.v[j] + 0.05 ELSE b.v[j] END) AS v
         |       FROM base b CROSS JOIN (VALUES (1), (2)) c(cp)
         |       WHERE b.vec_id % 50 = 0),
         |e AS (SELECT vec_id, v FROM base
         |      UNION ALL SELECT vec_id, v FROM cp),
         |bits AS (SELECT vec_id, v,
         | $bitCols
         | FROM e),
         |band AS (SELECT vec_id, $bandCols FROM bits),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |rb AS (SELECT least(16, greatest(4,
         |        coalesce((SELECT min(g.r) FROM (SELECT unnest(generate_series(0, 16)) AS r) g
         |         CROSS JOIN nn WHERE (CAST(128 AS BIGINT) << g.r) >= nn.n), 16))) AS r),
         |rr AS (SELECT CAST(1 AS BIGINT) << (16 - r) AS d FROM rb),
         |eb AS (SELECT vec_id, generate_subscripts(bk, 1) AS band_idx,
         |        unnest(bk) // (SELECT d FROM rr) AS bkey
         |       FROM (SELECT vec_id, [b0, b1, b2, b3, b4, b5] AS bk FROM band)),
         |ebw AS (SELECT band_idx, bkey FROM eb
         |        GROUP BY band_idx, bkey HAVING count(*) <= 8192),
         |ebc AS (SELECT eb.vec_id, eb.band_idx, eb.bkey
         |        FROM eb JOIN ebw USING (band_idx, bkey)),
         |cand AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
         |         FROM ebc a JOIN ebc b ON a.band_idx = b.band_idx
         |          AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
         |s AS (SELECT cand.qa, cand.qb, ${sqlCosine("x.v", "y.v")} AS sim
         |      FROM cand JOIN e x ON x.vec_id = cand.qa
         |                JOIN e y ON y.vec_id = cand.qb),
         |r AS (SELECT qa, qb,
         |        row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
         |      FROM s),
         |knn AS (SELECT qa, qb FROM r WHERE rk <= 4),
         |m AS (SELECT vec_id AS gid, vec_id FROM base WHERE vec_id % 50 = 0
         |      UNION ALL SELECT gid, vec_id FROM cp),
         |pr AS (SELECT a.gid, a.vec_id AS qa, b.vec_id AS qb
         |       FROM m a JOIN m b ON a.gid = b.gid AND a.vec_id <> b.vec_id),
         |h AS (SELECT pr.gid,
         |        CASE WHEN k.qa IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM pr LEFT JOIN knn k ON k.qa = pr.qa AND k.qb = pr.qb)
         |SELECT (SELECT n FROM nn) AS n_corpus,
         |  CAST((SELECT r FROM rb) AS BIGINT) AS r_bits,
         |  CAST(count(DISTINCT gid) AS BIGINT) AS n_groups,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  1000000 * CAST(sum(hit) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS recall_ppm
         |FROM h""".stripMargin
    },
    "q103_dsir" ->
      // delta_b is ONE ln of a ratio of exact int64 products, rounded
      // to 6dp into DECIMAL; weights are DECIMAL sums -> the selection
      // order (w DESC, doc_id) is total and engine-independent.
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS tgt, $SqlToks AS t
         |            FROM documents),
         |uni AS (SELECT doc_id, tgt, unnest(t) AS f FROM tok),
         |big AS (SELECT doc_id, tgt, t[i] || ' ' || t[i+1] AS f
         |        FROM (SELECT doc_id, tgt, t,
         |                unnest(generate_series(1, len(t)-1)) AS i
         |              FROM tok WHERE len(t) >= 2)),
         |feats AS (SELECT doc_id, tgt,
         |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 64 AS b
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc
         |       FROM feats WHERE tgt GROUP BY b),
         |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc
         |       FROM feats WHERE NOT tgt GROUP BY b),
         |tot AS (SELECT
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tt,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS rr
         |  FROM feats),
         |d AS (SELECT rc.b,
         |    CAST(round(ln(CAST((coalesce(tc.tc, 0) + 1) * (rr + 64) AS DOUBLE)
         |               / CAST((rc.rc + 1) * (tt + 64) AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS delta
         |  FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot),
         |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
         |       FROM feats WHERE NOT tgt GROUP BY doc_id, b),
         |sc AS (SELECT db.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |         CAST(sum(c * delta) AS DECIMAL(28,6)) AS w
         |       FROM db JOIN d ON d.b = db.b GROUP BY db.doc_id),
         |wa AS (SELECT a.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
         |         coalesce(sc.w, CAST(0 AS DECIMAL(28,6))) AS w
         |       FROM (SELECT doc_id FROM tok WHERE NOT tgt) a
         |       LEFT JOIN sc ON sc.doc_id = a.doc_id),
         |q AS (SELECT CAST(ceil(count(*) * 0.25) AS BIGINT) AS quota FROM wa),
         |r AS (SELECT doc_id, n_feats, w,
         |        row_number() OVER (ORDER BY w DESC, doc_id) AS sel_rank
         |      FROM wa)
         |SELECT doc_id, n_feats, CAST(w AS DOUBLE) + 0.0 AS weight,
         |  CAST(sel_rank AS BIGINT) AS sel_rank,
         |  sel_rank <= quota AS selected
         |FROM r CROSS JOIN q ORDER BY doc_id""".stripMargin,
    "q104_canonical_dedup" ->
      // q67's pair closure + q19's exact quality formula; the oracle's
      // partitioned row_number equals the engine's per-cluster arg-max
      // because the (quality desc, doc_id) order is total.
      s"""WITH RECURSIVE $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |        FROM reach GROUP BY src),
         |qual AS (SELECT c.doc_id,
         | least(CAST(len(t.toks) AS DOUBLE) / 100.0, 1.0) * 0.5
         | + (1.0 - (CASE WHEN length(c.text) = 0 THEN 0.0
         |    ELSE CAST(length(c.text) - length(regexp_replace(c.text,
         |           '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |         / CAST(length(c.text) AS DOUBLE) END)) * 0.25
         | + (CASE WHEN len(t.toks) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(t.toks, x -> x IN
         |           ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
         |         / CAST(len(t.toks) AS DOUBLE) END) * 0.25 AS quality
         | FROM corpus c JOIN tok t ON t.doc_id = c.doc_id),
         |m AS (SELECT q.doc_id, coalesce(l.cluster_id, q.doc_id) AS cluster_id,
         |        q.quality
         |      FROM qual q LEFT JOIN lab l ON l.doc_id = q.doc_id),
         |r AS (SELECT doc_id, cluster_id, quality,
         |        row_number() OVER (PARTITION BY cluster_id
         |                           ORDER BY quality DESC, doc_id) AS rk
         |      FROM m)
         |SELECT doc_id, cluster_id, quality, rk = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "q108_lsh_recall" -> {
      // q23's banding chain at threshold 0.6 vs q24's exact pair set;
      // "precision" is quoted (DuckDB type keyword)
      val p = operators.TextDedup.MinhashPrime
      val sigCols = (0 until 12).map { j =>
        val (a, b) = operators.TextDedup.minhashParams(j)
        s"min(($a * hh + $b) % $p) AS s$j"
      }.mkString(",\n ")
      def bandExpr(cols: Seq[Int]): String =
        "md5(" + cols.map(j => s"CAST(s$j AS VARCHAR)").mkString(" || '|' || ") + ")"
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |hh0 AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % $p AS hh FROM s),
         |sig AS (SELECT doc_id, $sigCols FROM hh0 GROUP BY doc_id),
         |band AS (SELECT doc_id,
         | ${bandExpr(Seq(0, 1, 2))} AS b0,
         | ${bandExpr(Seq(3, 4, 5))} AS b1,
         | ${bandExpr(Seq(6, 7, 8))} AS b2,
         | ${bandExpr(Seq(9, 10, 11))} AS b3 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         | FROM band a JOIN band b ON a.doc_id < b.doc_id
         |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jacall AS (SELECT com.id1, com.id2,
         |  CAST(com.common AS DOUBLE) / CAST(n1.n + n2.n - com.common AS DOUBLE) AS jaccard
         | FROM com JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2),
         |exact AS (SELECT id1, id2 FROM jacall WHERE jaccard >= 0.6),
         |approx AS (SELECT c.id1, c.id2 FROM cand c
         | JOIN jacall j ON j.id1 = c.id1 AND j.id2 = c.id2
         | WHERE j.jaccard >= 0.6),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_approx FROM approx),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM
         |  (SELECT * FROM approx INTERSECT SELECT * FROM exact))
         |SELECT n_approx, n_exact, n_common,
         |  CASE WHEN n_approx = 0 THEN 1.0
         |    ELSE round(CAST(n_common AS DOUBLE) / CAST(n_approx AS DOUBLE), 6)
         |  END AS "precision",
         |  CASE WHEN n_exact = 0 THEN 1.0
         |    ELSE round(CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
         |  END AS recall
         |FROM na CROSS JOIN ne CROSS JOIN nc""".stripMargin
    },
    "q113_dup_provenance" ->
      // q24's exact pair set, attributed to source pairs via the base
      // doc id (synthetic copies map back with % 1000000)
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |attr AS (SELECT least(d1.source, d2.source) AS src_a,
         |                greatest(d1.source, d2.source) AS src_b
         |  FROM pair
         |  JOIN documents d1 ON d1.doc_id = pair.id1 % 1000000
         |  JOIN documents d2 ON d2.doc_id = pair.id2 % 1000000)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM attr GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,
    "q116_simhash_pairs" ->
      // byte-band candidates + exact bit_count(xor) verify; SqlSimhash
      // mirrors the native expression bit-for-bit (q25's pin)
      s"""WITH $SqlCorpus,
         |tok AS (SELECT doc_id, $SqlToks AS toks FROM corpus),
         |shs AS (SELECT doc_id, CAST($SqlSimhash AS BIGINT) AS sh FROM tok),
         |banded AS (SELECT doc_id, sh, b, (sh >> (b * 8)) & 255 AS key
         |  FROM shs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    bit_count(xor(a.sh, b.sh)) AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
         |SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
         |FROM cand ORDER BY id1, id2""".stripMargin,
    "q126_leakage_split" ->
      // q67's recursive-closure labels + q58's md5 bucket, composed:
      // the cluster-keyed split can never separate a near-dup pair
      s"""WITH RECURSIVE $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |fl AS (SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS cluster_id
         | FROM (SELECT doc_id FROM corpus) c LEFT JOIN lab l ON l.doc_id = c.doc_id),
         |asg AS (SELECT doc_id, cluster_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS doc_split
         | FROM fl),
         |aud AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN a1.split <> a2.split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS cross_pairs_cluster_split,
         |  CAST(coalesce(sum(CASE WHEN a1.doc_split <> a2.doc_split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS cross_pairs_doc_split
         | FROM pair JOIN asg a1 ON a1.doc_id = pair.id1
         |           JOIN asg a2 ON a2.doc_id = pair.id2)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  cross_pairs_cluster_split, cross_pairs_doc_split
         |FROM asg CROSS JOIN aud
         |GROUP BY split, cross_pairs_cluster_split, cross_pairs_doc_split
         |ORDER BY split""".stripMargin,
    "q137_purged_split" ->
      // ceil(p·n) as exact integer rank arithmetic; a global
      // row_number stands in for the distributed ordinal (rank-equal)
      """WITH ev AS (SELECT event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |n AS (SELECT count(*) AS c FROM ev),
        |r AS (SELECT us, row_number() OVER (ORDER BY us, event_id) AS i FROM ev),
        |c1 AS (SELECT max(us) AS cut1 FROM r CROSS JOIN n
        |       WHERE i <= (7 * c + 9) // 10),
        |c2 AS (SELECT max(us) AS cut2 FROM r CROSS JOIN n
        |       WHERE i <= (17 * c + 19) // 20)
        |SELECT split, CAST(count(*) AS BIGINT) AS n,
        |  min(us) AS min_us, max(us) AS max_us
        |FROM (SELECT us,
        |  CASE WHEN abs(us - cut1) <= 86400000000
        |         OR abs(us - cut2) <= 86400000000 THEN 'embargo'
        |       WHEN us < cut1 THEN 'train'
        |       WHEN us < cut2 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM ev CROSS JOIN c1 CROSS JOIN c2)
        |GROUP BY split ORDER BY split""".stripMargin,
    "q139_hard_negatives" ->
      // per-query top-3 TF terms, then the q121 BM25 expression tree
      // joined through the query-term list; self excluded, top-10
      s"""WITH tok AS (SELECT doc_id, unnest($SqlToks) AS term FROM documents),
         |qt AS (SELECT doc_id AS query_id, term FROM (
         |  SELECT doc_id, term, count(*) AS tf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY count(*) DESC, term) AS rk
         |  FROM tok WHERE doc_id < 5 GROUP BY doc_id, term) WHERE rk <= 3),
         |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
         |         FROM tok GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_len
         |       FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM qt)
         |       GROUP BY doc_id, term),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term,
         |    CAST(round(
         |      round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |               (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) *
         |      (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
         |      (CAST(tf AS DOUBLE) +
         |       1.2 * (1.0 - 0.75 + 0.75 * CAST(len AS DOUBLE) / avg_len)), 6)
         |      AS DECIMAL(18,6)) AS ts
         |  FROM tf JOIN dfq ON dfq.term = tf.term
         |  JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN st),
         |qs AS (SELECT qt.query_id, sc.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_terms_hit,
         |    CAST(sum(sc.ts) AS DOUBLE) AS score
         |  FROM sc JOIN qt ON qt.term = sc.term
         |  WHERE sc.doc_id <> qt.query_id
         |  GROUP BY qt.query_id, sc.doc_id),
         |rk AS (SELECT query_id, doc_id, n_terms_hit, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM qs)
         |SELECT query_id, rank, doc_id, n_terms_hit, score
         |FROM rk WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q143_fuzzy_blocking" ->
      // edit distance is exact Wagner–Fischer on both engines; the
      // blocking key + length band are pure pruning, so the plain
      // block-join replay is value-identical
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q155_sorted_neighborhood" ->
      // rank-window candidates + bounded-Levenshtein verify; the rank
      // line replay is a plain row_number under the same total order
      """WITH rk AS (SELECT c_custkey AS id, c_name AS nm,
        |    CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT)
        |      AS rn
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b, b.rn - a.rn AS gap,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM rk a JOIN rk b ON b.rn - a.rn BETWEEN 1 AND 3
        |WHERE levenshtein(a.nm, b.nm) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q160_jaro_winkler" ->
      // DuckDB's jaro_winkler_similarity IS the oracle for the native
      // expression; both sides threshold the ROUNDED score
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.985
        |ORDER BY id_a, id_b""".stripMargin,
    "q165_containment" ->
      // distinct-shingle intersection restricted to the mutant→origin
      // pair list; exact integer ppm ratios
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |pr AS (SELECT doc_id + 2000000 AS id1, doc_id AS id2
         |       FROM documents WHERE doc_id % 7 = 0),
         |ids AS (SELECT id1 AS id FROM pr UNION SELECT id2 FROM pr),
         |shp AS (SELECT s.doc_id AS id, s.sh FROM s JOIN ids
         |        ON ids.id = s.doc_id),
         |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM shp GROUP BY id),
         |iv AS (SELECT pr.id1, pr.id2, CAST(count(*) AS BIGINT) AS n_common
         |  FROM pr JOIN shp a ON a.id = pr.id1
         |          JOIN shp b ON b.id = pr.id2 AND b.sh = a.sh
         |  GROUP BY pr.id1, pr.id2)
         |SELECT pr.id1, pr.id2, s1.n AS n1, s2.n AS n2,
         |  CAST(coalesce(iv.n_common, 0) AS BIGINT) AS n_common,
         |  coalesce(iv.n_common, 0) * 1000000 // s1.n AS c12_ppm,
         |  coalesce(iv.n_common, 0) * 1000000 // s2.n AS c21_ppm
         |FROM pr LEFT JOIN iv ON iv.id1 = pr.id1 AND iv.id2 = pr.id2
         |JOIN sz s1 ON s1.id = pr.id1 JOIN sz s2 ON s2.id = pr.id2
         |ORDER BY pr.id1""".stripMargin,
    "q167_dup_source_matrix" ->
      // the q24 PPJoin pair replay rolled up by orientation-normalized
      // source pair (synthetic ids map to their base doc's source)
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
         | GROUP BY 1, 2),
         |jac AS (SELECT com.id1, com.id2,
         |  CAST(com.common AS DOUBLE) / CAST(n1.n + n2.n - com.common
         |    AS DOUBLE) AS jaccard
         | FROM com JOIN n n1 ON n1.doc_id = com.id1
         |          JOIN n n2 ON n2.doc_id = com.id2),
         |pairs AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.6),
         |m AS (SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.id1 % 1000000
         |  JOIN documents db ON db.doc_id = p.id2 % 1000000)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM m GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "q187_jl_recall" ->
      // signed JL projection (md5-parity signs over 1-based dims),
      // top-10 by projected cosine vs the exact top-10, recall in ppm
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id >= 10),
         |ex AS (SELECT vec_id AS id,
         |  generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS indim,
         |  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(12,6)) AS xd
         | FROM embeddings),
         |pd AS (SELECT unnest(generate_series(1, 16)) AS pdim),
         |sg AS (SELECT id, pdim,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(pdim AS VARCHAR) || ':' ||
         |      CAST(indim AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
         |    THEN xd ELSE -xd END AS t
         | FROM ex CROSS JOIN pd),
         |pr AS MATERIALIZED (SELECT id, pdim, CAST(sum(t) AS DECIMAL(14,6)) AS p
         |  FROM sg GROUP BY 1, 2),
         |n2 AS (SELECT id, CAST(sum(CAST(p * p AS DECIMAL(34,12)))
         |    AS DECIMAL(38,12)) AS n2
         |  FROM pr GROUP BY id),
         |dt AS (SELECT a.id AS query_id, b.id AS cand_id,
         |  CAST(sum(CAST(a.p * b.p AS DECIMAL(34,12))) AS DECIMAL(38,12)) AS dot
         | FROM pr a JOIN pr b USING (pdim)
         | WHERE a.id < 10 AND b.id >= 10 GROUP BY 1, 2),
         |cosf AS (SELECT query_id, cand_id,
         |  round(CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |    AS cosp
         | FROM dt JOIN n2 na ON na.id = dt.query_id
         | JOIN n2 nb ON nb.id = dt.cand_id
         | WHERE CAST(na.n2 AS DOUBLE) > 0 AND CAST(nb.n2 AS DOUBLE) > 0),
         |ar AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosp DESC, cand_id) AS rk FROM cosf) WHERE rk <= 10),
         |scored AS (SELECT query_id, vec_id, ${sqlCosine("qv", "cv")} AS sim
         |  FROM q, c),
         |er AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, vec_id) AS rk FROM scored) WHERE rk <= 10)
         |SELECT e.query_id, CAST(count(a.cand_id) AS BIGINT) AS n_hit,
         | CAST(count(a.cand_id) * 100000 AS BIGINT) AS recall_ppm
         |FROM er e LEFT JOIN ar a
         |  ON a.query_id = e.query_id AND a.cand_id = e.vec_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    "q193_source_dup_rate" ->
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
         | GROUP BY 1, 2),
         |jac AS (SELECT com.id1, com.id2,
         |  CAST(com.common AS DOUBLE) / CAST(n1.n + n2.n - com.common
         |    AS DOUBLE) AS jaccard
         | FROM com JOIN n n1 ON n1.doc_id = com.id1
         |          JOIN n n2 ON n2.doc_id = com.id2),
         |pairs AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.6),
         |ids AS (SELECT DISTINCT id % 1000000 AS doc_id FROM
         |  (SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs)),
         |per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |dup AS (SELECT d.source, count(*) AS n_dup FROM ids
         |  JOIN documents d ON d.doc_id = ids.doc_id GROUP BY 1)
         |SELECT p.source, p.n_docs,
         | CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup_involved,
         | CAST(coalesce(dup.n_dup, 0) * 1000000 AS BIGINT)
         |   // CAST(p.n_docs AS BIGINT) AS dup_ppm
         |FROM per p LEFT JOIN dup ON dup.source = p.source
         |ORDER BY p.source""".stripMargin,
    "q196_vector_hygiene" ->
      """WITH ex AS (SELECT vec_id, label,
        |  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(12,6)) AS xd
        | FROM embeddings),
        |n2 AS (SELECT vec_id, label,
        |  CAST(sum(CAST(xd * xd AS DECIMAL(27,12))) AS DECIMAL(32,12)) AS n2
        | FROM ex GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        | CAST(coalesce(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_zero,
        | CAST(coalesce(sum(CASE WHEN n2 > 0 AND
        |   n2 < CAST(0.01 AS DECIMAL(32,12)) THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_tiny,
        | CAST(coalesce(sum(CASE WHEN n2 > CAST(100 AS DECIMAL(32,12))
        |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oversized
        |FROM n2 GROUP BY label ORDER BY label""".stripMargin,
    "q197_quality_dup_deciles" ->
      s"""WITH t AS (SELECT doc_id, text, $SqlToks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) - length(regexp_replace(text,
         |    '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(toks, x -> x IN
         |    ('the','a','of','and','to','in','is','it','for','on')))
         |    AS BIGINT) AS n_stop,
         |  length(text) AS n_chars
         | FROM t),
         |qs AS (SELECT doc_id,
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
         |  + (1.0 - (CASE WHEN n_chars = 0 THEN 0.0
         |            ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |            END)) * 0.25
         |  + (CASE WHEN n_tokens = 0 THEN 0.0
         |     ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |     END) * 0.25 AS q
         | FROM m),
         |rk AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY q, doc_id) AS rn FROM qs),
         |nn AS (SELECT count(*) AS n FROM qs),
         |dec AS (SELECT doc_id, ((rn - 1) * 10) // n + 1 AS decile
         |  FROM rk CROSS JOIN nn),
         |$SqlCorpus,
         |$SqlShingles3,
         |sn AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT id1, id2 FROM com
         | JOIN sn n1 ON n1.doc_id = com.id1 JOIN sn n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |dup AS (SELECT DISTINCT id % 1000000 AS doc_id FROM
         |  (SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs))
         |SELECT CAST(dec.decile AS BIGINT) AS decile, count(*) AS n_docs,
         | CAST(coalesce(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0
         |   END), 0) AS BIGINT) AS n_dup,
         | CAST(coalesce(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0
         |   END), 0) * 1000000 AS BIGINT) // CAST(count(*) AS BIGINT)
         |   AS dup_ppm
         |FROM dec LEFT JOIN dup ON dup.doc_id = dec.doc_id
         |GROUP BY dec.decile ORDER BY decile""".stripMargin,
    "q220_weighted_jaccard" ->
      // integer milli IDF weights (one rounded ln per shingle type),
      // exact BIGINT weight sums, rounded divide per pair
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |nn AS (SELECT count(DISTINCT doc_id) AS n FROM corpus),
         |wt AS (SELECT sh, count(*) AS df FROM s GROUP BY sh
         |  HAVING count(*) <= 1000),
         |w AS (SELECT wt.sh,
         |  CAST(round(ln(CAST(nn.n AS DOUBLE) / CAST(wt.df AS DOUBLE))
         |    * 1000) AS BIGINT) AS w
         | FROM wt CROSS JOIN nn),
         |ws AS (SELECT s.doc_id, s.sh, w.w FROM s JOIN w USING (sh)),
         |tot AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw
         |  FROM ws GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
         |  CAST(sum(x.w) AS BIGINT) AS cw
         | FROM ws x JOIN ws y ON x.sh = y.sh AND x.doc_id < y.doc_id
         | GROUP BY 1, 2)
         |SELECT com.id1, com.id2, com.cw,
         | round(CAST(com.cw AS DOUBLE) /
         |   CAST(t1.tw + t2.tw - com.cw AS DOUBLE), 6) AS wjaccard
         |FROM com JOIN tot t1 ON t1.doc_id = com.id1
         |JOIN tot t2 ON t2.doc_id = com.id2
         |WHERE t1.tw + t2.tw - com.cw > 0
         |  AND round(CAST(com.cw AS DOUBLE) /
         |   CAST(t1.tw + t2.tw - com.cw AS DOUBLE), 6) >= 0.25
         |ORDER BY com.id1, com.id2""".stripMargin,
    "q222_source_dup_matrix" ->
      // the q24/q206 pair SQL, base ids folded (+1M/+2M copies ->
      // originals), mapped to sources, counted per unordered pair
      s"""WITH $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
         | GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |m AS (SELECT id1 % 1000000 AS b1, id2 % 1000000 AS b2 FROM pair),
         |j AS (SELECT least(d1.source, d2.source) AS source_a,
         |   greatest(d1.source, d2.source) AS source_b
         | FROM m JOIN documents d1 ON d1.doc_id = m.b1
         | JOIN documents d2 ON d2.doc_id = m.b2)
         |SELECT source_a, source_b, count(*) AS n_pairs FROM j
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q229_embedding_decontamination" -> {
      val (bitCols, bandCols) = sqlBandCols(24, 4)
      // the SAME hyperplane literals and MSB-first band packing as the
      // Spark side (sqlBandCols == hyperplaneWeights/packBandKeys), so
      // the candidate set — an LSH-recall artifact — matches exactly;
      // cosine rounded 6 dp BEFORE thresholding on both engines
      s"""WITH ev AS (SELECT vec_id AS eid, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 100),
         |tr AS (SELECT vec_id AS tid, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id >= 100
         | UNION ALL SELECT vec_id + 2000000 AS tid, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 100 AND vec_id % 7 = 0),
         |eb AS (SELECT eid, label, v, $bitCols FROM ev),
         |eband AS (SELECT eid, label, v, $bandCols FROM eb),
         |tb AS (SELECT tid, label, v, $bitCols FROM tr),
         |tband AS (SELECT tid, label, v, $bandCols FROM tb),
         |cand AS (SELECT DISTINCT t.tid, e.eid
         | FROM tband t JOIN eband e ON t.label = e.label
         |  AND (t.b0 = e.b0 OR t.b1 = e.b1 OR t.b2 = e.b2 OR t.b3 = e.b3)),
         |hits AS (SELECT tid, eid, sim FROM (
         |  SELECT cand.tid, cand.eid,
         |    round(${sqlCosine("x.v", "y.v")}, 6) AS sim
         |  FROM cand JOIN tr x ON x.tid = cand.tid
         |   JOIN ev y ON y.eid = cand.eid) WHERE sim >= 0.85),
         |agg AS (SELECT tid, CAST(count(*) AS BIGINT) AS n_eval_hits,
         |   max(sim) AS max_sim FROM hits GROUP BY tid),
         |top AS (SELECT h.tid, min(h.eid) AS top_eval_id
         | FROM hits h JOIN agg a ON a.tid = h.tid AND h.sim = a.max_sim
         | GROUP BY h.tid)
         |SELECT a.tid AS train_id, a.n_eval_hits, t.top_eval_id, a.max_sim
         |FROM agg a JOIN top t ON t.tid = a.tid
         |ORDER BY train_id""".stripMargin
    })
}
