package graft.operators

import graft.SparkSpec

/** Pins [[PageRank]] against hand-computed fixpoints and invariants. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("2-cycle holds the uniform fixpoint exactly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = PageRank.ranks(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // base + d·(0.5/1) = 0.075 + 0.425 = 0.5 every round, exactly
    assert(pr(1L) === 0.5)
    assert(pr(2L) === 0.5)
  }

  test("star graph: hub accumulates, leaves at sink floor") {
    // leaves 2,3,4 -> hub 1; hub -> leaf 2 (so hub has outdeg 1)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val n = 4.0
    var p = Map(1L -> 1 / n, 2L -> 1 / n, 3L -> 1 / n, 4L -> 1 / n)
    for (_ <- 1 to 3) {
      val base = (1.0 - 0.85) / n
      p = Map(
        1L -> (base + 0.85 * (p(2L) + p(3L) + p(4L))),
        2L -> (base + 0.85 * p(1L)),
        3L -> base, 4L -> base)
    }
    val pr = PageRank.ranks(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    p.foreach { case (k, v) => assert(math.abs(pr(k) - v) < 1e-12, s"node $k") }
    // no-inbound nodes sit exactly at (1-d)/N (same double op sequence)
    assert(pr(3L) === (1.0 - 0.85) / 4)
  }

  test("mutual-kNN: one-way edges drop, mutual components label by min id") {
    import org.apache.spark.sql.functions.col
    // directed kNN edges: 1<->2 and 3<->4 mutual; 2->3 and 5->1 one-way
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (5L, 1L))
      .toDF("query_id", "neighbor_id")
    val got = KnnGraph.mutualClusters(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(1L -> ((1L, 2L)), 2L -> ((1L, 2L)),
      3L -> ((3L, 2L)), 4L -> ((3L, 2L))))
    // exact kNN on hand vectors: two tight direction groups, k=1
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 1f))).toDF("vec_id", "embedding")
    val knn = KnnGraph.knnEdgesExact(vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(knn === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
    val cl = KnnGraph.mutualClusters(
      KnnGraph.knnEdgesExact(vecs, "vec_id", "embedding", k = 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("LSH-tier kNN: sims equal the exact tier per pair; recall is usable") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val k = 4
    val exact = KnnGraph.knnEdgesExact(e, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = KnnGraph.knnEdgesLsh(e, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // any pair both tiers score carries the SAME rounded cosine
    lsh.foreach { case (pair, sim) =>
      exact.get(pair).foreach(es => assert(es === sim, s"pair $pair")) }
    // deterministic hyperplanes -> recall is a fixed number; pin a floor
    val hit = exact.keys.count(lsh.contains)
    assert(hit.toDouble / exact.size > 0.3,
      s"recall ${hit.toDouble / exact.size} too low")
  }

  test("LSH-tier kNN: hot band buckets are capped — a planted duplicate " +
       "mass cannot go quadratic, healthy pairs keep their edges") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    // 400 IDENTICAL vectors (a mass-duplicate crawl artifact): they share
    // every band key, so without the cap ONE bucket yields 400² candidates
    val mass = vec()
    val massRows = (1000L until 1400L).map(id => (id, mass.clone()))
    // 10 tight healthy pairs in distinct directions
    val pairRows = (0 until 10).flatMap { p =>
      val v = vec()
      val w = v.clone(); w(0) += 0.01f
      Seq((p * 2L, v), (p * 2L + 1, w))
    }
    val vecs = (massRows ++ pairRows).toDF("vec_id", "embedding")
    val capped = KnnGraph.knnEdgesLsh(vecs, "vec_id", "embedding", k = 2,
        maxBucketWidth = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // every mass bucket is wider than the cap in every band -> the mass
    // contributes NO candidates at all (its edges are exact-dedup's job)
    assert(!capped.exists { case (q, n) => q >= 1000L || n >= 1000L },
      "duplicate mass must be excluded by the bucket cap")
    // healthy pairs survive: each member still finds its partner unless
    // EVERY one of its 6 band buckets collided with the mass key (none
    // do, with these deterministic hyperplanes)
    val found = (0 until 10).count(p =>
      capped.contains((p * 2L, p * 2L + 1)) &&
      capped.contains((p * 2L + 1, p * 2L)))
    assert(found >= 8, s"only $found of 10 healthy pairs kept their edge")
    // sanity: with the cap lifted the mass edges DO appear (so the cap,
    // not the banding, is what removed them above)
    val uncapped = KnnGraph.knnEdgesLsh(vecs, "vec_id", "embedding", k = 2,
        maxBucketWidth = 1000000)
      .filter(col("query_id") >= 1000L).limit(1).count()
    assert(uncapped === 1L)
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("adaptive band width: exact integer ceil-log2, clamped") {
    // min r with 128·2^r >= n, clamped to [4, 16]
    assert(KnnGraph.adaptiveBits(1L, 128L, 4, 16) === 4)
    assert(KnnGraph.adaptiveBits(128L, 128L, 4, 16) === 4)
    assert(KnnGraph.adaptiveBits(500L, 128L, 4, 16) === 4)
    assert(KnnGraph.adaptiveBits(2048L, 128L, 4, 16) === 4)
    assert(KnnGraph.adaptiveBits(2049L, 128L, 4, 16) === 5)
    assert(KnnGraph.adaptiveBits(20000L, 128L, 4, 16) === 8)
    assert(KnnGraph.adaptiveBits(200000L, 128L, 4, 16) === 11)
    assert(KnnGraph.adaptiveBits(100000000L, 128L, 4, 16) === 16)
  }

  test("adaptive LSH kNN: planted pairs survive widened band keys; " +
       "deterministic across runs") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    // 20 tight pairs (cosine ≈ 0.99995) among 560 noise vectors
    val pairRows = (0 until 20).flatMap { p =>
      val v = vec(); val w = v.clone(); w(0) += 0.01f
      Seq((p * 2L, v), (p * 2L + 1, w))
    }
    val noise = (100L until 660L).map(id => (id, vec()))
    val vecs = (pairRows ++ noise).toDF("vec_id", "embedding")
    // targetBucketWidth = 2 forces r = ceil(log2(600/2)) = 9 — far past
    // the gate corpora's r = 4, so this exercises the widened-key path:
    // per-band match for a 0.99995-cosine pair is ~0.997^9 ≈ 0.97,
    // and ≥1 of 6 bands hits with near-certainty
    val lsh = KnnGraph.knnEdgesLshAdaptive(vecs, "vec_id", "embedding",
        k = 2, targetBucketWidth = 2L, minBits = 4, maxBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = (0 until 20).count(p => lsh.contains((p * 2L, p * 2L + 1)))
    assert(found >= 18, s"only $found of 20 planted pairs survived r=9 keys")
    // deterministic hyperplanes + integer r election → rerun identical
    val again = KnnGraph.knnEdgesLshAdaptive(vecs, "vec_id", "embedding",
        k = 2, targetBucketWidth = 2L, minBits = 4, maxBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh === again)
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("planted-cluster recall audit (q324): >= 90% of 0.99875-cosine " +
       "planted pairs survive the adaptive banding") {
    // the clustered-mass floor the near-random q315 aggregate cannot
    // certify; measured 100% at sf0.001/0.01/0.1 (PLANS.md round 14)
    val r = graft.SparkEntry.queries("q324_planted_recall")(spark, sf())
      .collect()(0)
    assert(r.getAs[Long]("n_pairs") > 0L)
    assert(r.getAs[Long]("recall_ppm") >= 900000L,
      s"planted recall below the 90% floor: $r")
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("fidelity audits: sampled-LPA modularity within 0.01 of exact; " +
       "sampled clustering errors inside the k=16 binomial envelope") {
    // the q319/q320 published bounds, pinned at spec scale (they were
    // also measured to hold at sf0.01 and sf0.1 — PLANS.md round 13):
    // |modularity delta| ≤ 0.01, and error quantiles within ~3σ of the
    // k = 16 wedge-trial binomial (σ ≤ 125,000 ppm)
    val f1 = graft.SparkEntry.queries("q319_lpa_fidelity")(spark, sf())
      .collect()(0)
    assert(math.abs(f1.getAs[Double]("delta")) <= 0.01,
      s"modularity delta ${f1.getAs[Double]("delta")} out of bound")
    val f2 = graft.SparkEntry.queries("q320_clustering_fidelity")(spark, sf())
      .collect()(0)
    assert(f2.getAs[Long]("p50_err_ppm") <= 150000L &&
      f2.getAs[Long]("max_err_ppm") <= 400000L,
      s"clustering error out of envelope: $f2")
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("betweenness: path chain dependencies; diamond splits path mass") {
    import org.apache.spark.sql.functions.col
    // path 1-2-3-4 from seed 1: sigma = 1 everywhere; delta(3) = 1
    // (carries pair (1,4)), delta(2) = 1·(1+1) = 2 (pairs (1,3),(1,4));
    // node 4 sits at the hop bound with delta 0 and is not emitted
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val s1 = Seq(Tuple1(1L)).toDF("p")
    val r1 = Betweenness.sampledBetweenness(path, "a", "b", s1,
        maxHops = 3, topN = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r1 === Map(2L -> 2.0, 3L -> 1.0))
    // diamond 1-{2,3}-4: sigma(4) = 2, so each middle node carries
    // half the (1,4) path mass
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val r2 = Betweenness.sampledBetweenness(dia, "a", "b", s1,
        maxHops = 2, topN = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r2 === Map(2L -> 0.5, 3L -> 0.5))
    // two seeds add their trees: seeds {1, 4} on the path double the
    // middle by symmetry (2 carries 2 from seed 1, 1 from seed 4)
    val s2 = Seq(Tuple1(1L), Tuple1(4L)).toDF("p")
    val r3 = Betweenness.sampledBetweenness(path, "a", "b", s2,
        maxHops = 3, topN = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r3 === Map(2L -> 3.0, 3L -> 3.0))
  }

  test("label propagation: two cliques over a bridge resolve to two communities") {
    import spark.implicits._
    // 4-cliques {1..4} and {5..8} joined by the single bridge 4-5: each
    // clique floods to its own min label; the bridge is outvoted
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L))).toDF("src", "dst")
    val got = LabelPropagation.communities(edges, "src", "dst", rounds = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(n => got(n) === ((1L, 4L))))
    assert(Seq(5L, 6L, 7L, 8L).forall(n => got(n) === ((5L, 4L))))
  }

  test("sampled LPA: identical to exact below the cap, deterministic above") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // degrees ≤ 4 < maxNbrs=8: the sparsification is a no-op, the
    // labeling must equal the exact face row for row
    val small = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L))).toDF("src", "dst")
    val exact = LabelPropagation.communities(small, "src", "dst", 5)
      .collect().map(_.toSeq).toSet
    val sampled = LabelPropagation.communitiesSampled(small, "src", "dst",
      rounds = 5, maxNbrs = 8).collect().map(_.toSeq).toSet
    assert(sampled === exact)
    // a 30-spoke hub with maxNbrs=4: the cap binds; the run is a pure
    // function of the edge set (two invocations identical) and every
    // node still gets a label
    val hub = (1L to 30L).map(i => (0L, i)).toDF("src", "dst")
    val a = LabelPropagation.communitiesSampled(hub, "src", "dst", 3, 4)
      .orderBy("node").collect().map(_.toSeq).toSeq
    val b = LabelPropagation.communitiesSampled(hub, "src", "dst", 3, 4)
      .orderBy("node").collect().map(_.toSeq).toSeq
    assert(a === b && a.length === 31)
  }

  test("sampled clustering: clique saturates at 1e6 ppm, star at 0") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // K5: every sampled neighbor pair closes → cc 1e6 ppm for all 5
    val k5 = clique(Seq(1L, 2L, 3L, 4L, 5L)).toDF("a", "b")
    val r = Triangles.sampledLocalClustering(k5, "a", "b", k = 16,
      topN = 10).collect()
    assert(r.length === 5)
    assert(r.forall(row => row.getLong(3) === 1000000L &&
      row.getLong(2) === 16L))
    // star: the hub's neighbors never connect → cc 0; spokes have
    // degree 1 and drop
    val star = (1L to 10L).map(i => (0L, i)).toDF("a", "b")
    val s0 = Triangles.sampledLocalClustering(star, "a", "b", 16, 10)
      .collect()
    assert(s0.length === 1 && s0(0).getLong(0) === 0L &&
      s0(0).getLong(3) === 0L)
    // deterministic across invocations
    val again = Triangles.sampledLocalClustering(k5, "a", "b", 16, 10)
      .collect().map(_.toSeq).toSeq
    assert(again === r.map(_.toSeq).toSeq)
  }

  test("k-truss: clique survives, pendant triangle and bridges peel away") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // K5 on {1..5} (every edge closes 3 triangles), a pendant triangle
    // {10,11,12} (support 1 each), a bridge 5-10 (support 0)
    val edges = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      clique(Seq(10L, 11L, 12L)) ++ Seq((5L, 10L))).toDF("src", "dst")
    val got = KTruss.peelRounds(edges, "src", "dst", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exactly the K5's 10 edges survive, each still closing 3 triangles
    assert(got.keySet === clique(Seq(1L, 2L, 3L, 4L, 5L)).toSet)
    assert(got.values.toSet === Set(3L))
    // cascade pin: K4 {20..23} plus one extra edge 23-24-22 triangle —
    // at k=4 the {22,23,24} triangle peels in round 1, and K4 edges
    // keep support 2 ≥ k−2, so the 6 K4 edges survive round 2 intact
    val edges2 = (clique(Seq(20L, 21L, 22L, 23L)) ++
      Seq((23L, 24L), (22L, 24L))).toDF("src", "dst")
    val got2 = KTruss.peelRounds(edges2, "src", "dst", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === clique(Seq(20L, 21L, 22L, 23L)).toSet)
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("personalized PageRank: seed mass propagates hop by hop on a path") {
    import spark.implicits._
    // directed path 1→2→3, seed {1}: closed-form mass per iteration
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = PageRank.personalizedRanks(edges, "src", "dst",
        Seq(1L).toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.15) < 1e-12)
    assert(math.abs(got(2L) - 0.85 * 0.15) < 1e-12)
    assert(math.abs(got(3L) - 0.85 * 0.85 * 0.15) < 1e-12)
  }

  test("personalized PageRank with all-node seeds equals uniform PageRank") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val uni = PageRank.ranks(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val per = PageRank.personalizedRanks(edges, "src", "dst",
        Seq(1L, 2L, 3L).toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    uni.foreach { case (n, pr) => assert(math.abs(per(n) - pr) < 1e-12, s"node $n") }
  }

  test("BFS: hop = exact shortest distance; diamond takes the min path") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-6-4 (diamond): node 4 is 2 hops
    // via 6, NOT 3 hops via the path; 9-10 is a disconnected island
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L),
      (6L, 4L), (9L, 10L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Bfs.reachable(edges, "src", "dst", seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 6L -> 1, 3L -> 2, 4L -> 2, 5L -> 3))
  }

  test("BFS: undirected expansion, multi-seed min, hop-0 stop, empty frontier") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst") // 1-2-3 undirected
    // reverse-direction reach: seed 3 sees 2 then 1 through reversed edges
    val fromThree = Bfs.reachable(edges, "src", "dst", Seq(3L).toDF("n"),
        maxHops = 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromThree === Map(3L -> 0, 2L -> 1, 1L -> 2))
    // two seeds: every node keeps the MIN hop over seeds
    val multi = Bfs.reachable(edges, "src", "dst", Seq(1L, 3L).toDF("n"),
        maxHops = 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi === Map(1L -> 0, 3L -> 0, 2L -> 1))
    // maxHops = 0 returns just the seed set
    assert(Bfs.reachable(edges, "src", "dst", Seq(1L).toDF("n"), 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 0)))
    // isolated seed: frontier empties before maxHops — terminates early
    val iso = Bfs.reachable(edges, "src", "dst", Seq(42L).toDF("n"), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(iso === Seq((42L, 0)))
  }

  test("neighborhood function: exact ball sizes below k on a path") {
    import spark.implicits._
    // path 1-2-3-4-5: with k=16 every sketch stays below k, so the
    // estimates ARE the exact ball sizes |ball(node, r)|
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = NeighborhoodFunction.ballSizes(edges, "src", "dst",
        k = 16, rounds = 2)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("node")) -> r.getDouble(3))
      .toMap
    // r=0: everyone 1; r=1: ends 2, middles 3; r=2: 3 / 4 / 5
    assert((1L to 5L).forall(n => got((0L, n)) === 1.0))
    assert(got((1L, 1L)) === 2.0 && got((1L, 5L)) === 2.0)
    assert(got((1L, 2L)) === 3.0 && got((1L, 3L)) === 3.0)
    assert(got((2L, 1L)) === 3.0 && got((2L, 2L)) === 4.0 &&
      got((2L, 3L)) === 5.0)
    // 6-clique with k=2: every radius-1 sketch saturates (n_kept = 2)
    // and the estimate switches to the KMV formula — positive, finite,
    // and identical across nodes only where the bottom-2 hashes agree
    val clique = (for (a <- 1L to 6L; b <- 1L to 6L if a < b)
      yield (a, b)).toDF("src", "dst")
    val est = NeighborhoodFunction.ballSizes(clique, "src", "dst",
        k = 2, rounds = 1)
      .filter(org.apache.spark.sql.functions.col("radius") === 1L)
      .collect()
    assert(est.length === 6 &&
      est.forall(r => r.getLong(2) === 2L && r.getDouble(3) > 0.0))
  }

  test("random walks: edges only, full length, deterministic, degree-1 exact") {
    import spark.implicits._
    // two-node graph: degree 1 everywhere, so the walk is forced to
    // alternate 1,2,1,2 regardless of the hash — an exact pin
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val starts1 = Seq(1L).toDF("n")
    val w1 = RandomWalks.walks(pair, "src", "dst", starts1, "n", length = 3)
      .orderBy(org.apache.spark.sql.functions.col("step"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(w1.toSeq === Seq((0L, 1L), (1L, 2L), (2L, 1L), (3L, 2L)))
    // random-ish mirrored graph: every emitted hop must be a real edge,
    // every walker yields exactly length+1 steps, and a second run is
    // bit-identical (hash-driven, no RNG state)
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val e = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val starts = Seq(1L, 3L, 5L).toDF("n")
    def run() = RandomWalks.walks(e, "src", "dst", starts, "n", length = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run()
    assert(got === run())
    assert(got.size === 15 &&
      Set(1L, 3L, 5L).forall(w => got.count(_._1 == w) === 5))
    val edgeSet = (e0 ++ e0.map(_.swap)).toSet
    val byWalkerStep = got.toSeq.sortBy(t => (t._1, t._2))
    byWalkerStep.grouped(5).foreach { walk =>
      assert(walk.head._2 === 0L && walk.head._3 === walk.head._1)
      walk.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a._3, b._3)),
          s"hop ${a._3}->${b._3} is not an edge")
      }
    }
  }

  test("Adamic–Adar: path wedges score 1/ln2; existing edges excluded") {
    // path 1-2-3-4: the only common-neighbor pairs are (1,3) via 2 and
    // (2,4) via 3, each a single wedge through a degree-2 center
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = LinkPrediction.adamicAdarTopK(edges, "src", "dst")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDecimal(3).doubleValue()))).toMap
    assert(got === Map((1L, 3L) -> ((1L, 1.442695)),
      (2L, 4L) -> ((1L, 1.442695))))
    // triangle 5-6-7: every candidate pair IS an edge — nothing predicted
    val tri = Seq((5L, 6L), (6L, 7L), (5L, 7L)).toDF("src", "dst")
    assert(LinkPrediction.adamicAdarTopK(tri, "src", "dst").count() === 0)
  }

  test("Adamic–Adar hub cap: hub wedges drop, healthy wedges survive") {
    // hub 100 connects 1..5 (deg 5); separate path 10-11-12 (deg-2 center)
    val hub = (1L to 5L).map(i => (100L, i))
    val edges = (hub ++ Seq((10L, 11L), (11L, 12L))).toDF("src", "dst")
    val capped = LinkPrediction
      .adamicAdarTopK(edges, "src", "dst", maxWedgeDegree = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all C(5,2)=10 pairs through the hub are gone; (10,12) survives
    assert(capped === Set((10L, 12L)))
    val uncapped = LinkPrediction.adamicAdarTopK(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 11 && uncapped.contains((1L, 2L)))
  }

  test("item cosine: counts normalize; minBoth filters; per-item top-k") {
    val pairs = Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 3L))
      .toDF("pa", "pb", "n_both")
    val counts = Seq((1L, 4L), (2L, 4L), (3L, 9L)).toDF("item", "n")
    val got = LinkPrediction.itemCosineTopK(pairs, counts, topKPerItem = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(3), r.getInt(4)))).toMap
    // (1,3) has n_both=1 < minBoth=2: dropped both directions
    assert(!got.contains((1L, 3L)) && !got.contains((3L, 1L)))
    // cos(1,2) = 2/sqrt(16) = 0.5; cos(2,3) = 3/sqrt(36) = 0.5
    assert(got((1L, 2L)) === ((0.5, 1)) && got((2L, 1L)) === ((0.5, 1)))
    assert(got((2L, 3L)) === ((0.5, 2))) // rank 2 for item 2: ties? no —
    // item 2 neighbors: 1 (0.5) and 3 (0.5); tie breaks on other id
    assert(got((3L, 2L)) === ((0.5, 1)))
  }

  test("bounded SSSP: min path beats fewer-hop costlier path; rounds cap") {
    import org.apache.spark.sql.functions.col
    // 1 -> 2 (0.5) -> 3 (0.5) total 1.0 vs direct 1 -> 3 (1.5):
    // the 2-hop path must win; node 4 is 3 hops out (cost 1.5)
    val e = Seq((1L, 2L, "0.5"), (2L, 3L, "0.5"), (1L, 3L, "1.5"),
        (3L, 4L, "0.5")).toDF("u", "v", "w")
      .select(col("u"), col("v"), col("w").cast("decimal(12,6)").as("w"))
    val seeds = Seq(1L).toDF("n")
    val got = Sssp.boundedShortestPaths(e, "u", "v", "w", seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(got === Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 1.5))
    // 1 round: only direct edges relax — 3 gets the expensive edge
    val one = Sssp.boundedShortestPaths(e, "u", "v", "w", seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(one === Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.5))
  }

  test("TextRank: a bridging token outranks frequent-but-peripheral ones") {
    import org.apache.spark.sql.functions.col
    // 'hub' is adjacent to a, b, c repeatedly; 'tail' only to a
    val docs = Seq.fill(4)(("g", Seq("a", "hub", "b", "hub", "c", "a", "tail")))
      .toDF("g", "toks")
    val got = TextRank.keywords(docs, "g", "toks", rounds = 2,
        minEdgeCount = 3, topK = 10)
      .collect().map(r => r.getString(1) -> r.getInt(3)).toMap
    assert(got("hub") === 1) // the connective center ranks first
    assert(got.contains("a") && got.contains("b") && got.contains("c"))
    // edges below minEdgeCount drop: 'tail'-'a' appears 4 times (>=3,
    // kept); raise the floor and the tail node vanishes
    val strict = TextRank.keywords(docs, "g", "toks", rounds = 2,
        minEdgeCount = 5, topK = 10)
      .collect().map(_.getString(1)).toSet
    assert(!strict.contains("tail"))
  }

  test("HITS: two-round hand fixpoint on a 2x2 bipartite graph") {
    // u1 -> {10, 11}, u2 -> {10}
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("u", "p")
    val got = LinkPrediction.hitsTopAuthorities(e, "u", "p", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a1 = (2/3, 1/3) -> (0.666667, 0.333333); h1 = (0.6, 0.4);
    // a2 raw = (1.0, 0.6), S = 1.6 -> (0.625, 0.375)
    assert(got === Map(10L -> 0.625, 11L -> 0.375))
  }
  test("neighborhoodScoresTopK: hand square graph — all four indices") {
    // square 1-2-3-4-1: candidates are the diagonals (1,3) and (2,4),
    // each with 2 common neighbors of degree 2.
    // aa = 2·round(1/ln2, 6) = 2·1.442695 = 2.88539
    // ra = 2·0.5 = 1.0; jaccard = 2/(2+2-2) = 1e6 ppm
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val got = LinkPrediction.neighborhoodScoresTopK(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === Seq(
      (1L, 3L, 2L, 1000000L, 1.0, 2.88539),
      (2L, 4L, 2L, 1000000L, 1.0, 2.88539)))
  }

  test("neighborhoodScoresTopK: degree-1 centers are ANSI-safe at every plan shape") {
    // pendant node 3 and isolated pair 8-9 are degree-1 centers: their
    // Adamic–Adar weight divides 1.0 by ln(1) = 0. A degree-1 center
    // closes no wedge, so the value never reaches the output — but under
    // ANSI (Spark 4 default) the raw divide THREW whenever the planner
    // evaluated the centers projection eagerly (fused into the degree
    // agg's output ahead of the wedge join — the SMJ plan shape the r14
    // driver bench hit; broadcast plans defer it past the join, which is
    // why the failure came and went). Force the SMJ shape and assert the
    // guarded expression stays total and result-identical.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (8L, 9L))
      .toDF("src", "dst")
    def run() = LinkPrediction.neighborhoodScoresTopK(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val broadcastShape = run()
    spark.conf.set(key, "-1")
    try assert(run() === broadcastShape)
    finally spark.conf.set(key, prev)
    assert(broadcastShape === Seq((1L, 3L, 1L, 500000L), (2L, 3L, 1L, 500000L)))
  }

  test("neighborhoodScoresTopK: jaccard uses full degrees, aa ranks differ") {
    // star center 0 with leaves 1,2,3 plus edge 1-2: candidate pairs
    // through center 0 (deg 3): (1,3),(2,3) cn=1; (1,2) is an EDGE ->
    // excluded. deg(1)=deg(2)=2, deg(3)=1.
    // (1,3): jaccard = 1e6·1 DIV (2+1-1) = 500000
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val got = LinkPrediction.neighborhoodScoresTopK(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === Seq((1L, 3L, 1L, 500000L), (2L, 3L, 1L, 500000L)))
  }

  test("shared triangle list: FromTriangles faces agree with standalone") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // K5 + pendant triangle + bridge: multiple supports, degrees 1..4
    val edges = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      clique(Seq(10L, 11L, 12L)) ++ Seq((5L, 10L))).toDF("src", "dst")
    val e = Triangles.canonicalEdges(edges, "src", "dst")
    val tris = Triangles.enumerate(e).localCheckpoint(true)
    // census: K5 has C(5,3)=10 triangles + 1 pendant = 11
    val c = Triangles.censusFromTriangles(e, tris).collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) === ((8L, 14L, 11L)))
    // per-node face equals the standalone path row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(Triangles.perNodeCensusFromTriangles(e, tris)) ===
      rows(Triangles.perNodeCensus(edges, "src", "dst")))
    // k-truss with the precomputed round-1 support equals the
    // re-enumerating path (same survivors, same final support)
    def truss(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(truss(KTruss.peelRoundsFromTriangles(e, Some(tris), k = 4, rounds = 2)) ===
      truss(KTruss.peelRounds(edges, "src", "dst", k = 4, rounds = 2)))
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("DOULION sampled census: deterministic, and inverseP=1 is exact") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique((1L to 12L)).toDF("src", "dst") // K12: 220 triangles
    // p=1 keeps every edge: the estimate IS the exact census
    val exact = Triangles.sampledCensus(edges, "src", "dst", inverseP = 1)
      .collect()(0)
    assert((exact.getLong(0), exact.getLong(1)) === ((66L, 66L)))
    assert(exact.getLong(2) === 220L && exact.getLong(3) === 220L)
    // p=2: deterministic md5 sampling — two runs agree bit-for-bit,
    // the estimate is sampled·8, and the sample is a strict subset
    val a = Triangles.sampledCensus(edges, "src", "dst", inverseP = 2)
      .collect()(0)
    val b = Triangles.sampledCensus(edges, "src", "dst", inverseP = 2)
      .collect()(0)
    assert(a.toSeq === b.toSeq)
    assert(a.getLong(1) < a.getLong(0))
    assert(a.getLong(3) === a.getLong(2) * 8L)
  }
}
