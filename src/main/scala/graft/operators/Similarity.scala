package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k via a broadcast of the query
  *    set against the corpus — the correctness baseline. Linear in
  *    |corpus| × |queries|; at 100 TB the corpus stays partitioned, only
  *    the (small) query set is broadcast, and the per-partition top-k is
  *    combined via the aggregation-like window, so no corpus shuffle.
  *  - [[ivfTopK]]: IVF-style two-stage search — coarse centroids (one
  *    tiny aggregation), rank buckets per query, probe only `nprobe`
  *    buckets. Cuts the scanned fraction to nprobe/nlist.
  *  - [[nearDupPairs]]: embedding-cosine near-duplicate detection inside
  *    coarse buckets.
  *
  * All arithmetic is double-precision with left-to-right summation so an
  * external engine computes bit-identical results.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimExpr.cosineSim(a, b)

  /** Cosine for ranking/thresholding: a zero-norm vector's 0/0 = NaN
    * becomes NULL, which every `>= threshold` filter rejects and every
    * descending sort puts last — NaN would instead pass all filters and
    * rank FIRST under Spark's NaN-greatest ordering, making a zero
    * (padding) vector everyone's top neighbor.
    */
  private def simOrNull(a: Column, b: Column): Column = {
    val c = cosine(a, b)
    when(!isnan(c), c)
  }

  /** The declarative HOF formulation — 8 array traversals per row; kept
    * as the spec ground truth the native expression is pinned against
    * (bit-equal: same per-sum accumulation order, same final ops).
    */
  def cosineDeclarative(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val da = d(a); val db = d(b)
    dot(da, db) / (sqrt(dot(da, da)) * sqrt(dot(db, db)))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast); ties break on ascending neighbor id. The
    * `rank <= k` filter under a `row_number` window plans as Spark 4's
    * WindowGroupLimit: every scan partition pre-prunes to its LOCAL
    * top-k per query before the exchange, so the shuffle carries at most
    * k × partitions rows per query — never the scored corpus.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "query_id", qVec: String = "query_vec",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("sim", simOrNull(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col("rank").cast("long").as("rank"), col(cId).as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Coarse centroids: per-bucket mean vector. Sums go through DECIMAL so
    * the result is independent of partial-aggregation order (and thus
    * reproducible by any engine).
    */
  def centroids(corpus: DataFrame, bucketCol: String,
                vecCol: String = "embedding"): DataFrame = {
    val ex = corpus.select(col(bucketCol).as("bucket"),
      posexplode(col(vecCol)).as(Seq("dim", "x")))
    // exact decimal sum, then ONE double division — bit-reproducible by
    // any engine regardless of partial-aggregation order
    ex.groupBy(col("bucket"), col("dim"))
      .agg((sum(col("x").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("bucket"), transform(col("pairs"), p => p.getField("m")).as("centroid"))
  }

  /** IVF-style search: rank buckets by query↔centroid cosine, then exact
    * top-k only within the best `nprobe` buckets.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
              bucketCol: String = "label",
              qId: String = "query_id", qVec: String = "query_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    ivfTopKWithCentroids(queries, corpus, centroids(corpus, bucketCol, cVec),
      k, nprobe, bucketCol, qId, qVec, cId, cVec)

  /** IVF probe against ALREADY-BUILT coarse centroids (`(bucket,
    * centroid)`) — the entry point for a trained quantizer
    * ([[KMeans.fitCentroids]]) or any stored index, so the probe
    * never recomputes what training just produced.
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           cents: DataFrame, k: Int, nprobe: Int,
                           bucketCol: String = "label",
                           qId: String = "query_id", qVec: String = "query_vec",
                           cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("csim", simOrNull(col(qVec), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("csim").desc, col("bucket"))))
      .filter(col("crank") <= nprobe)
      .select(col(qId), col(qVec), col("bucket"))
    val scored = corpus.join(broadcast(probed), col(bucketCol) === col("bucket"))
      .withColumn("sim", simOrNull(col(qVec), col(cVec)))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))))
      .filter(col("rank") <= k)
      .select(col(qId), col("rank").cast("long").as("rank"), col(cId).as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Embedding near-duplicates: pairs in the same coarse bucket with
    * cosine ≥ threshold. The bucket join keeps the pair space linear in
    * bucket size rather than all-pairs — but a single hot bucket is still
    * quadratic in its population, so this tier is the small-bucket /
    * ground-truth path; [[nearDupPairsLsh]] is the scale path.
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   bucketCol: String = "label",
                   cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val a = corpus.select(col(bucketCol).as("bk"), col(cId).as("id1"), col(cVec).as("v1"))
    val b = corpus.select(col(bucketCol).as("bk"), col(cId).as("id2"), col(cVec).as("v2"))
    a.join(b, Seq("bk")).filter(col("id1") < col("id2"))
      .withColumn("sim", simOrNull(col("v1"), col("v2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic random-hyperplane weights: entry (i, j) derives from
    * `md5(i ':' j)` mapped to [-1, 1) and rounded to 6 decimals, so the
    * SAME literals embed bit-identically in any engine's SQL — the
    * hyperplanes are part of the operator's portable definition, not
    * runtime randomness.
    */
  def hyperplaneWeights(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (i, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8")).take(4)
        .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
      math.rint(((h.toDouble / 2147483648.0) - 1.0) * 1e6) / 1e6
    }

  /** Per-vector hyperplane sign bits: bit i is `⟨v, w_i⟩ > 0`. The
    * weight matrix enters the plan as ONE 2-D array literal looped by a
    * single `transform` — unrolling a per-plane expression instead would
    * make the generated code grow with planes × dims (measurable
    * whole-stage-codegen compile cost), whereas here the weights are
    * data.
    */
  def hyperplaneBits(vec: Column, weights: Array[Array[Double]]): Column = {
    val w2d = typedLit(weights.map(_.toSeq).toSeq)
    transform(w2d, w =>
      when(aggregate(zip_with(vec, w, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v) > 0, lit(1)).otherwise(lit(0)))
  }

  /** Pack sign bits into `bands` keys, `r` consecutive bits MSB-first
    * per band. Two vectors at angle θ agree on a bit with probability
    * 1 − θ/π, so near-identical vectors share a band key with high
    * probability. Callers MUST materialize `bits` as its own column first —
    * each band key reads `r` positions, and an inlined bits expression
    * would recompute every dot product per reference.
    */
  def packBandKeys(bits: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      (0 until r).map(i => element_at(bits, b * r + i + 1) * lit(1 << (r - 1 - i)))
        .reduce(_ + _)
    }: _*)

  /** Scale path for embedding near-dup: candidates must share the coarse
    * bucket AND at least one hyperplane-LSH band key, then verify with
    * exact cosine (approximate recall, exact precision — same contract as
    * the MinHash text tier). The (bucket, band, key) join space is
    * 2^(planes/bands) finer than the coarse bucket alone, so one hot
    * bucket no longer degenerates to all-pairs.
    */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
                      numPlanes: Int = 24, bands: Int = 4, dim: Int = 64,
                      bucketCol: String = "label",
                      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0,
      s"numPlanes ($numPlanes) must divide into bands ($bands)")
    // a dim mismatch would null-pad every zip_with product, turn every
    // sign bit into 0, and silently degrade the join to per-bucket
    // all-pairs — the exact blowup this tier exists to prevent
    corpus.select(size(col(cVec)).as("d")).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == dim,
        s"dim ($dim) does not match the embedding length (${r.getInt(0)})")
    }
    // cached, not localCheckpoint — checkpoint size stats would break
    // broadcast planning downstream; Retained.releaseAll reclaims
    val keyed = Retained.track(
      corpus.select(col(bucketCol).as("bk"), col(cId).as("id"), col(cVec).as("v"))
        // bits materialized as their own projection so the per-band
        // element_at reads scan a computed array instead of re-deriving
        // the dot products (CollapseProject keeps non-cheap
        // multi-referenced aliases materialized)
        .withColumn("__hp_bits", hyperplaneBits(col("v"), hyperplaneWeights(numPlanes, dim)))
        .withColumn("bandkeys", packBandKeys(col("__hp_bits"), bands, numPlanes / bands))
        .drop("__hp_bits")
        .cache())
    val exploded = keyed.select(col("bk"), col("id"),
      posexplode(col("bandkeys")).as(Seq("band_idx", "band_key")))
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.bk") === col("b.bk") && col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    cand
      .join(keyed.select(col("id").as("id1"), col("v").as("v1")), Seq("id1"))
      .join(keyed.select(col("id").as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("sim", simOrNull(col("v1"), col("v2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
  }

  /** Pairwise cosine between per-group embedding CENTROIDS — the
    * embedding-drift monitor (did source X's vectors move away from
    * source Y's after a re-embed? are two labels' populations
    * converging?). The group count `n` cancels out of
    * cos(Σa/n_a, Σb/n_b), so centroids are never materialized: the
    * three cross-dim sums (Σ sxa·sxb, Σ sxa², Σ sxb²) run on
    * DECIMAL(18,10)-quantized component sums — exact and
    * order-independent in both engines (the q99 PCA casting
    * discipline) — and ONE sqrt+divide per group pair closes it,
    * rounded 6 dp. Cost: one explode + two hash aggs + a
    * groups×dims self-join (groups are few; dims bounded).
    */
  def labelCentroidCosines(df: DataFrame, groupCol: String,
                           vecCol: String): DataFrame = {
    val ex = df.select(col(groupCol).as("g"),
        posexplode(col(vecCol)).as(Seq("i", "xf")))
      .select(col("g"), col("i"),
        col("xf").cast("double").cast("decimal(18,10)").as("x"))
    // per-(group, dim) component sums, re-quantized to (18,10) so the
    // cross products below stay inside 38 digits on BOTH engines
    val s = ex.groupBy(col("g"), col("i"))
      .agg(sum(col("x")).cast("decimal(18,10)").as("sx"))
    val norms = s.groupBy(col("g"))
      .agg(sum(col("sx") * col("sx")).cast("decimal(38,20)").as("nrm"))
    s.as("a").join(s.as("b"),
        col("a.i") === col("b.i") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(sum(col("a.sx") * col("b.sx")).cast("decimal(38,20)").as("dot"))
      .join(norms.select(col("g").as("ga"), col("nrm").as("na")), Seq("ga"))
      .join(norms.select(col("g").as("gb"), col("nrm").as("nb")), Seq("gb"))
      .select(col("ga"), col("gb"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("centroid_cosine"))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    * greedily pick k results trading relevance against redundancy —
    * `argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the standard
    * retrieval-diversification step between ANN recall and a
    * generation prompt (k near-identical passages waste context).
    *
    * Scale shape: the DISTRIBUTED part is the candidate scan — exact
    * cosines against the query, global top-`window` via
    * TakeOrderedAndProject (never a full sort). The greedy rerank is
    * O(window²) driver arithmetic over that bounded window (the
    * production retrieve-then-rerank pattern; window is an operator
    * parameter ≪ corpus, NOT data-sized). Determinism: relevances and
    * pairwise similarities replay [[cosine]]'s exact left-to-right
    * double fold and are rounded HALF_UP to 6 dp BEFORE the greedy
    * comparisons (Spark `round` semantics), so selection is
    * engine-stable; ties break on ascending id.
    *
    * Output: `(sel_order, vec_id, rel, mmr_score)` for the k picks;
    * `mmr_score = round(λ·rel − (1−λ)·maxsim, 6)` with maxsim = 0 for
    * the first pick.
    */
  def mmrRerank(query: DataFrame, corpus: DataFrame, k: Int,
                window: Int, lambda: Double,
                qVec: String = "query_vec", cId: String = "vec_id",
                cVec: String = "embedding"): DataFrame = {
    require(k >= 1 && window >= k, s"need window >= k >= 1, got k=$k window=$window")
    // a multi-row query frame would fan every candidate out once per
    // row and silently dedup to an arbitrary relevance — fail loudly
    // instead (the frame is 1-row by contract, the count is free)
    require(query.count() == 1L,
      "mmrRerank takes exactly ONE query row; rerank per query in a loop")
    val spark = corpus.sparkSession
    import spark.implicits._
    def round6(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val cands = corpus.crossJoin(broadcast(query.select(col(qVec))))
      .select(col(cId).cast("long").as("__id"),
        col(cVec).cast("array<double>").as("__v"),
        cosine(col(qVec), col(cVec)).as("__sim"))
      .filter(col("__sim").isNotNull)
      .orderBy(col("__sim").desc, col("__id"))
      .limit(window)
      .as[(Long, Seq[Double], Double)]
      .collect()
      .map { case (id, v, sim) => (id, v.toArray, round6(sim)) }
    // the same left-to-right double fold as CosineSimExpr.nullSafeEval
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecOf = cands.map(c => c._1 -> c._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    // running max-sim per candidate, refreshed against only the NEWEST
    // pick — one cosine per (candidate, pick) pair, not per round. The
    // default is −∞, NOT 0: cosines can be negative and a 0 floor
    // would silently erase an anti-correlated pick's diversity bonus
    // (the first round's no-picks-yet case is handled explicitly)
    val maxSim = scala.collection.mutable.Map[Long, Double]()
      .withDefaultValue(Double.NegativeInfinity)
    while (selected.size < k && remaining.nonEmpty) {
      selected.lastOption.foreach { case (sid, _, _) =>
        val sv = vecOf(sid)
        remaining.valuesIterator.foreach { case (id, v, _) =>
          val s = round6(cos(v, sv))
          if (s > maxSim(id)) maxSim(id) = s
        }
      }
      val pick = remaining.values.map { case (id, _, rel) =>
        val ms = if (selected.isEmpty) 0.0 else maxSim(id)
        (id, rel, round6(lambda * rel - (1.0 - lambda) * ms))
      }.reduceLeft { (x, y) =>
        if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
      }
      selected += pick
      remaining.remove(pick._1)
    }
    selected.zipWithIndex.map { case ((id, rel, sc), i) =>
      (i + 1L, id, rel + 0.0, sc)
    }.toSeq.toDF("sel_order", "vec_id", "rel", "mmr_score")
  }
}
