package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextShingles}

/** Document deduplication for training-data pipelines, at three cost
  * tiers:
  *
  *  - [[exactDedup]]: hash-groupBy on a content fingerprint — one
  *    shuffle of (hash, id), no text movement.
  *  - [[minhashCandidates]] + [[verifiedNearDupPairs]]: MinHash + LSH —
  *    shingle → per-doc signature (map-side, no shuffle) → band buckets →
  *    equi-join on (band, hash) → exact-Jaccard verification of the few
  *    candidates. This is the 100 TB path: cost is bounded by bucket
  *    collisions, never all-pairs.
  *  - [[jaccardPairs]]: exact n-gram Jaccard via a shingle equi-join with
  *    a document-frequency cap on hot shingles (skew guard) — the
  *    ground-truth oracle for the approximate tiers.
  *  - [[simhash32]]: 32-bit SimHash sketch; equal sketches bucket
  *    near-identical token multisets.
  *
  * All hashing is md5-based and lexicographic so an external SQL engine
  * can replicate results exactly.
  */
object TextDedup {

  /** Exact dedup: keep the smallest id per normalized-content hash.
    * Returns (keep_id, group_size, fingerprint).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** 31-bit Mersenne prime modulus of the universal MinHash family. */
  val MinhashPrime = 2147483647L

  /** Deterministic (a, b) parameters of universal hash j — fixed LCG
    * constants, so any SQL engine can reproduce the family exactly.
    */
  def minhashParams(j: Int): (Long, Long) =
    (((1103515245L * (j + 7)) % (MinhashPrime - 1)) + 1,
     (12345L + 2654435761L * j) % MinhashPrime)

  /** md5-derived base hash per shingle (the ONLY md5 in the signature
    * path): first 8 hex digits as an integer, reduced mod the prime.
    */
  def minhashBase(shingles: Column): Column =
    transform(shingles,
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long") % MinhashPrime)

  /** MinHash signature from the per-shingle base hashes: entry j is the
    * minimum of `(a_j·h + b_j) mod p` over the doc's base hashes — a
    * universal-hash family over ONE md5 per shingle, instead of hashing
    * every (j, shingle) combination (`numHashes`× the md5 cost, which
    * dominates signature compute at corpus scale).
    */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      val (a, b) = minhashParams(j)
      array_min(transform(baseHashes, h => (h * a + b) % MinhashPrime))
    }: _*)

  /** LSH band keys: bands of `rowsPerBand` consecutive signature entries,
    * hashed together.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => sig.getItem(b * rowsPerBand + r).cast("string")): _*))
    }: _*)

  /** Per-doc shingle set + signature + band keys. The signature is the
    * native one-pass [[graft.plans.MinHashSigExpr]] (digest bytes, no
    * hex-string churn) — spec-pinned value-identical to the declarative
    * [[minhashBase]]+[[minhashSignature]] formulation that the SQL
    * oracle mirrors.
    */
  def withMinhash(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide into bands ($bands) — a remainder " +
        "would silently drop trailing signature entries and shift the LSH operating point")
    val rows = numHashes / bands
    docs.select(col(idCol),
        array_distinct(TextShingles.shingles(TextAnalysis.tokens(col(textCol)), k))
          .as("shingles"))
      .withColumn("sig",
        graft.plans.MinHashSigExpr.minhashSig(col("shingles"), numHashes))
      .withColumn("bandkeys", lshBandKeys(col("sig"), bands, rows))
  }

  /** Candidate pairs: docs sharing at least one LSH band. One shuffle on
    * (band_idx, band_hash); bucket sizes bound the join fan-out.
    */
  def minhashCandidates(withSig: DataFrame, idCol: String): DataFrame = {
    val exploded = withSig.select(col(idCol),
      posexplode(col("bandkeys")).as(Seq("band_idx", "band_hash")))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col(s"a.band_idx") === col(s"b.band_idx") &&
        col(s"a.band_hash") === col(s"b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
  }

  /** Exact Jaccard over distinct word-k-gram shingles via a shingle
    * equi-join. `maxShingleDocFreq` drops shingles present in more than
    * that many docs (skew guard; a shingle shared by every doc would
    * otherwise quadratically explode the join).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.5,
                   maxShingleDocFreq: Long = 1000): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(array_distinct(TextShingles.shingles(
          TextAnalysis.tokens(col(textCol)), k))).as("sh"))
    val filtered = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDocFreq).select("sh"),
      Seq("sh"))
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = filtered.as("x").join(filtered.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), Seq("id1"))
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2"), Seq("id2"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** IDF-WEIGHTED Jaccard near-dup pairs — the dedup refinement that
    * stops boilerplate from manufacturing matches: each distinct
    * shingle carries integer milli-weight `round(ln(N/df)·1000)`
    * (N = corpus docs, df = shingle doc-frequency), so two docs
    * sharing only ubiquitous header/footer shingles score ~0 while
    * shared RARE content dominates. Weighted Jaccard =
    * Σ_{common} w / (W_a + W_b − Σ_{common} w), with all weight sums
    * exact BIGINTs (one rounded ln per shingle TYPE — the engine-
    * portable doctrine) and one float divide per pair, 6-dp rounded.
    *
    * Scale shape: identical to [[jaccardPairs]]'s exact tier (shingle
    * equi-self-join bounded by `maxShingleDocFreq`, which here also
    * bounds the weight floor) — the verify tier; candidate
    * generation at 100 TB still belongs to MinHash-LSH or the PPJoin
    * prefix filter upstream.
    */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, threshold: Double = 0.25,
                           maxShingleDocFreq: Long = 1000): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(array_distinct(TextShingles.shingles(
          TextAnalysis.tokens(col(textCol)), k))).as("sh"))
    val n = docs.select(col(idCol)).distinct().count()
    val weights = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq)
      .withColumn("w", round(log(lit(n.toDouble) / col("df").cast("double")) * 1000)
        .cast("long"))
    val wsh = sh.join(weights.select("sh", "w"), Seq("sh"))
    val totals = wsh.groupBy(col("id")).agg(sum(col("w")).as("tw"))
    val common = wsh.as("x").join(wsh.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(sum(col("x.w")).as("cw"))
    common
      .join(totals.withColumnRenamed("id", "id1")
        .withColumnRenamed("tw", "tw1"), Seq("id1"))
      .join(totals.withColumnRenamed("id", "id2")
        .withColumnRenamed("tw", "tw2"), Seq("id2"))
      // zero union weight (every shared AND solo shingle at df = N,
      // weight 0) would divide 0/0 into NaN — and NaN compares GREATER
      // than every threshold in both engines, silently passing the
      // filter; such pairs share only corpus-wide boilerplate, which
      // is exactly a non-match
      .filter(col("tw1") + col("tw2") - col("cw") > 0)
      .withColumn("wjaccard", round(col("cw").cast("double") /
        (col("tw1") + col("tw2") - col("cw")).cast("double"), 6))
      .filter(col("wjaccard") >= threshold)
      .select(col("id1"), col("id2"), col("cw"), col("wjaccard"))
  }

  /** Asymmetric shingle containment over a GIVEN pair list —
    * `C(A→B) = |A∩B| / |A|`, the quote/excerpt detector Jaccard
    * misses (a paragraph lifted into a much longer doc has high
    * containment but low Jaccard; cf. Broder 1997's resemblance vs
    * containment split). Shingle sets are restricted to the paired
    * docs via a semi join BEFORE the intersection equi-join, so cost
    * scales with the candidate pairs (from any blocking/LSH stage),
    * never the corpus cross product. Everything is exact integers:
    * returns `(id1, id2, n1, n2, n_common, c12_ppm, c21_ppm)` with
    * ppm = `|∩|·1e6 DIV |side|`.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(array_distinct(TextShingles.shingles(
          TextAnalysis.tokens(col(textCol)), k))).as("sh"))
    val ids = pairs.select(col("id1").as("id"))
      .unionAll(pairs.select(col("id2").as("id"))).distinct()
    val shp = sh.join(ids, Seq("id"), "left_semi").localCheckpoint(true)
    val sizes = shp.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(shp.select(col("id").as("id1"), col("sh")), Seq("id1"))
      .join(shp.select(col("id").as("id2"), col("sh")), Seq("id2", "sh"),
        "left_semi")
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_common"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("c12_ppm", expr("n_common * 1000000L DIV n1"))
      .withColumn("c21_ppm", expr("n_common * 1000000L DIV n2"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        col("n_common"), col("c12_ppm"), col("c21_ppm"))
  }

  /** Exact all-pairs Jaccard ≥ threshold via PREFIX FILTERING (the
    * PPJoin family of all-pairs similarity joins): under any global
    * shingle order, two sets with Jaccard ≥ t must share at least one
    * element among each set's first `|s| - ⌈t·|s|⌉ + 1` shingles. Only
    * those prefixes are indexed — ordered rarest-first (ascending
    * document frequency) so the candidate join fans out on the LEAST
    * common shingles — then candidates verify with a per-pair
    * `array_intersect`. Result-identical to [[jaccardPairs]] WITHOUT its
    * hot-shingle cap (maxShingleDocFreq = infinity — the capped tier both
    * prunes pairs and shrinks the jaccard denominators), but the
    * enumeration cost tracks prefix collisions instead of every
    * co-shingled pair — the difference between quadratic blowup and
    * linear behavior on large corpora.
    */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // cached, NOT localCheckpoint: a checkpoint's LogicalRDD reports
    // default (huge) size stats, which would demote the verify-stage
    // broadcast joins to sort-merge (~4x slower here).
    // Retained.releaseAll reclaims.
    val sets = Retained.track(docs.select(col(idCol).as("id"),
        array_distinct(TextShingles.shingles(TextAnalysis.tokens(col(textCol)), k))
          .as("shingles"))
      .withColumn("n", size(col("shingles")))
      .cache())
    val exploded = sets.select(col("id"), col("n"), explode(col("shingles")).as("sh"))
    val dfreq = exploded.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = exploded.join(dfreq, "sh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("sh"))))
      // prefix length: n - ceil(t*n) + 1. The epsilon guards double
      // round-up: if n*t lands a hair ABOVE the exact rational product
      // (e.g. 0.6*5 → 3.0000000000000004), a bare ceil would overshoot
      // and shorten the prefix, silently dropping a boundary pair.
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1)
      .select(col("id"), col("n"), col("sh"), col("rn"))
    // both sides of the candidate self-join read this frame; without
    // materialization each side would redo explode → df-join → window
    // (two full shuffles of every shingle, twice)
    val rankedM = Retained.track(ranked.cache())
    // Candidate join with the full PPJoin filter stack — on a
    // collision-heavy corpus the prefix filter alone admits hundreds of
    // candidates per surviving pair, and these two predicates (both
    // cheap integer comparisons evaluated INSIDE the join) discard them
    // before the verify stage ever sees them:
    //  - LENGTH filter: J ≥ t ⟹ min(n1,n2) ≥ t·max(n1,n2)
    //  - POSITIONAL filter: matching at prefix positions (rn1, rn2)
    //    caps the total overlap at 1 + min(n1−rn1, n2−rn2), which must
    //    still reach the required overlap ⌈t/(1+t)·(n1+n2)⌉
    val minOverlap =
      ceil((col("a.n") + col("b.n")) * (threshold / (1 + threshold)) - lit(1e-9))
    val cand = rankedM.as("a").join(rankedM.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")) >=
          ceil(greatest(col("a.n"), col("b.n")) * threshold - lit(1e-9)) &&
        lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >= minOverlap)
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    cand
      .join(sets.select(col("id").as("id1"), col("shingles").as("__s1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("shingles").as("__s2")), Seq("id2"))
      .withColumn("__common", size(array_intersect(col("__s1"), col("__s2"))))
      .withColumn("jaccard", col("__common").cast("double") /
        (size(col("__s1")) + size(col("__s2")) - col("__common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** LSH candidates verified by exact Jaccard ≥ threshold — the standard
    * near-dup pipeline (approximate recall, exact precision).
    *
    * Verification joins the candidate pairs back to the per-doc shingle
    * SETS and intersects per pair (`array_intersect`) — cost is
    * O(|candidates| × shingles), never the all-pairs shingle join of
    * [[jaccardPairs]]. That difference is the whole point of LSH at
    * 100 TB: the exact tier enumerates every co-shingled pair; this
    * tier only touches what the band buckets surfaced.
    */
  def verifiedNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, numHashes: Int = 12, bands: Int = 4,
                           threshold: Double = 0.5): DataFrame = {
    // reused by the candidate join and both set lookups; at larger scale
    // signatures would be a materialized artifact (see writeLshIndex).
    // cache, not localCheckpoint — checkpoint size stats would break
    // broadcast planning downstream
    val withSig = withMinhash(docs, idCol, textCol, k, numHashes, bands).cache()
    val cand = minhashCandidates(withSig, idCol)
    val sets = withSig.select(col(idCol), col("shingles"))
    cand
      .join(sets.withColumnRenamed(idCol, "id1").withColumnRenamed("shingles", "__sh1"),
        Seq("id1"))
      .join(sets.withColumnRenamed(idCol, "id2").withColumnRenamed("shingles", "__sh2"),
        Seq("id2"))
      .withColumn("__common", size(array_intersect(col("__sh1"), col("__sh2"))))
      .withColumn("jaccard", col("__common").cast("double") /
        (size(col("__sh1")) + size(col("__sh2")) - col("__common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Persist the LSH index as a reusable artifact — the 100 TB shape of
    * [[verifiedNearDupPairs]]'s in-session cache: signatures are
    * computed ONCE per corpus, then every later ingest probes the stored
    * bands instead of re-hashing the corpus. Two tables:
    * `<path>/bands` (band_idx, band_hash, id — the join side; at real
    * scale written bucketed by band_hash) and `<path>/sets`
    * (id, shingles — the verify side).
    */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String, path: String,
                    k: Int = 3, numHashes: Int = 12, bands: Int = 4): Unit = {
    import docs.sparkSession.implicits._
    // the hash family is part of the index: persist it so a probe with
    // different parameters fails fast instead of silently matching nothing
    Seq((k, numHashes, bands)).toDF("k", "num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$path/params")
    val withSig = withMinhash(docs, idCol, textCol, k, numHashes, bands).cache()
    withSig.select(col(idCol),
        posexplode(col("bandkeys")).as(Seq("band_idx", "band_hash")))
      .write.mode("overwrite").parquet(s"$path/bands")
    withSig.select(col(idCol), col("shingles"))
      .write.mode("overwrite").parquet(s"$path/sets")
    withSig.unpersist()
  }

  /** Incremental near-dup detection of a NEW batch against a stored
    * index: the new docs' band keys broadcast into a join against the
    * index's bands table (the corpus is scanned, never shuffled), then
    * candidates verify with exact Jaccard against the stored shingle
    * sets. Returns (new_id, corpus_id, jaccard ≥ threshold).
    */
  def probeLshIndex(newDocs: DataFrame, idCol: String, textCol: String, path: String,
                    k: Int = 3, numHashes: Int = 12, bands: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    // indexes written before params existed stay readable (no metadata →
    // the caller is trusted, as before)
    val stored =
      try spark.read.parquet(s"$path/params").collect().headOption
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    stored.foreach { r =>
      require((r.getInt(0), r.getInt(1), r.getInt(2)) == ((k, numHashes, bands)),
        s"index at $path was written with (k=${r.getInt(0)}, numHashes=${r.getInt(1)}, " +
          s"bands=${r.getInt(2)}) but the probe asked for (k=$k, numHashes=$numHashes, " +
          s"bands=$bands) — a mismatched hash family would match nothing")
    }
    val probe = withMinhash(newDocs, idCol, textCol, k, numHashes, bands).cache()
    val probeBands = probe.select(col(idCol).as("new_id"),
      posexplode(col("bandkeys")).as(Seq("band_idx", "band_hash")))
    val idxBands = spark.read.parquet(s"$path/bands")
    val cand = idxBands.join(broadcast(probeBands), Seq("band_idx", "band_hash"))
      .select(col("new_id"), col(idCol).as("corpus_id")).distinct()
    val idxSets = spark.read.parquet(s"$path/sets")
      .select(col(idCol).as("corpus_id"), col("shingles").as("__shc"))
    val newSets = probe.select(col(idCol).as("new_id"), col("shingles").as("__shn"))
    cand.join(idxSets, Seq("corpus_id"))
      .join(broadcast(newSets), Seq("new_id"))
      .withColumn("__common", size(array_intersect(col("__shn"), col("__shc"))))
      .withColumn("jaccard", col("__common").cast("double") /
        (size(col("__shn")) + size(col("__shc")) - col("__common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** 32-bit SimHash over whitespace tokens: token hash = first 8 hex
    * digits of md5; each bit contributes ±1; sketch bit j set iff the sum
    * is positive. Evaluated by the native single-pass Catalyst
    * expression [[graft.plans.SimHash32Expr]]; the declarative
    * formulation below is kept as the cross-check reference.
    */
  def simhash32(textCol: Column): Column =
    graft.plans.SimHash32Expr.simhash32(TextAnalysis.tokens(textCol))

  /** Pure-`functions._` formulation (32 aggregates over the hash array)
    * — portable to SQL engines, used to pin the native expression.
    */
  def simhash32Declarative(textCol: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(textCol),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until 32).map { j =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1L) * 2L - 1L))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L << j).cast("long")).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-dup PAIRS — the sketch turned into a dedup tier:
    * byte-band blocking (the 32-bit sketch split into 4 bytes; by
    * pigeonhole any pair within Hamming distance 3 agrees on at least
    * one whole byte, so recall at `maxHamming <= 3` is EXACTLY 1) and
    * an exact `bit_count(xor)` verify for exact precision. Candidates
    * are bounded by band-byte collisions (≤ 4·n per hot byte), never
    * all pairs; one sketch per doc, computed by the native single-pass
    * expression. Returns (id1, id2, hamming).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"byte-banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sh = docs.select(col(idCol).cast("long").as("__id"),
      simhash32(col(textCol)).as("__sh"))
    val banded = sh.select(col("__id"), col("__sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("__sh"), b * 8).bitwiseAND(255L)): _*))
        .as(Seq("__band", "__key")))
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
        col("a.__key") === col("b.__key") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"),
        bit_count(col("a.__sh").bitwiseXOR(col("b.__sh"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink first
      .distinct()
  }
}
