package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Pins the round-6 corpus-scale operators: repeated-substring spans,
  * order-invariant checksums, inverted-index search, and int8
  * quantization.
  */
class IndexingSpec extends SparkSpec {
  import spark.implicits._

  test("substring spans: exact interval merge on hand-built repeats") {
    // "p q r" repeats 3x within doc 1 and spans docs 2/3 share "a b c"
    val docs = Seq(
      (1L, "p q r p q r p q r"),
      (2L, "a b c d e"),
      (3L, "a b c x y"),
      (4L, "u v w z t")).toDF("doc_id", "text")
    val out = SubstringDedup.duplicatedSpanStats(docs, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc1: 9 tokens, starts 1..7 all duplicated (p q r / q r p / r p q
    // each occur 3x / 2x / 2x) -> covered = 3 + 6*1 = 9, frac 1.0
    assert(out(1L) === ((9L, 7L, 9L, 1.0)))
    // docs 2,3: one duplicated gram "a b c" covering 3 of 5 tokens
    assert(out(2L) === ((5L, 1L, 3L, 0.6)))
    assert(out(3L) === ((5L, 1L, 3L, 0.6)))
    assert(out(4L) === ((5L, 0L, 0L, 0.0)))
  }

  test("checksum: order/partitioning-invariant, group faces merge to table face") {
    val li = Tables.lineitem(spark, sf())
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val whole = TableChecksum.checksum(li, cols).collect()(0)
    val shuffled = TableChecksum.checksum(
      li.repartition(13, col("l_partkey")), cols).collect()(0)
    assert(whole === shuffled)
    // group checksums merge: xor of group xors = table xor,
    // modular sums add up (mod M)
    val groups = TableChecksum.checksum(li, cols, Seq("l_returnflag")).collect()
    assert(groups.map(_.getLong(2)).reduce(_ ^ _) === whole.getLong(1))
    assert(groups.map(_.getLong(3)).sum % 1000000007L === whole.getLong(2))
    // changed rows change the checksum pair
    val tampered = li.withColumn("l_partkey",
      when(col("l_linenumber") === 1, col("l_partkey") + 1)
        .otherwise(col("l_partkey")))
    val t = TableChecksum.checksum(tampered, cols).collect()(0)
    assert((t.getLong(1), t.getLong(2)) !== ((whole.getLong(1), whole.getLong(2))))
  }

  test("bm25TopK matches a sequential reference scorer") {
    val docs = Seq(
      (1L, "merge the merge queue with vector clocks"),
      (2L, "vector search over a stream of vector embeddings"),
      (3L, "plain prose with none of the query words"),
      (4L, "stream stream stream merge"),
      (5L, "a very long document about merge " + ("filler " * 40).trim))
      .toDF("doc_id", "text")
    val terms = Seq("merge", "vector", "stream")
    val got = InvertedIndex.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // sequential reference with the same rounding discipline
    val toks = Seq(1L, 2L, 3L, 4L, 5L).map { id =>
      id -> docs.filter(col("doc_id") === id).collect()(0).getString(1)
        .trim.toLowerCase.split("\\s+").toSeq
    }.toMap
    val n = toks.size.toDouble
    val avg = toks.values.map(_.size).sum.toDouble / n
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = toks.toSeq.map { case (id, ts) =>
      val hit = terms.filter(t => ts.contains(t))
      val score = hit.map { t =>
        val tf = ts.count(_ == t).toDouble
        val dfr = toks.values.count(_.contains(t)).toDouble
        val idf = r6(math.log((n - dfr + 0.5) / (dfr + 0.5) + 1.0)).toDouble
        val len = ts.size.toDouble
        r6(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len / avg)))
      }.sum
      (id, hit.size.toLong, score.toDouble)
    }.filter(_._2 > 0).sortBy(x => (-x._3, x._1))
    assert(got.toSeq === want)
  }

  test("inverted-index search equals brute-force containment") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val idx = InvertedIndex.build(docs, "doc_id", "text").cache()
    for (terms <- Seq(Seq("merge"), Seq("merge", "vector"),
                      Seq("scan", "join", "window"))) {
      val viaIndex = InvertedIndex.searchAll(idx, terms)
        .as[Long].collect().toSet
      val brute = docs.filter(terms.map(t =>
          array_contains(graft.functions.TextAnalysis.tokens(col("text")), t))
          .reduce(_ && _))
        .select("doc_id").as[Long].collect().toSet
      assert(viaIndex === brute, s"terms=$terms")
    }
  }

  test("native cosine_sim is bit-equal to the declarative HOF form") {
    val e = Tables.embeddings(spark, sf())
    val pairs = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      .crossJoin(e.select(col("vec_id").as("id2"), col("embedding").as("v2")))
      .filter(col("id1") < 40 && col("id2") >= 40 && col("id2") < 80)
    val diff = pairs.select(
        Similarity.cosine(col("v1"), col("v2")).as("a"),
        Similarity.cosineDeclarative(col("v1"), col("v2")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0L)
    // null / length-mismatch semantics follow zip_with: null result
    import spark.implicits._
    val odd = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("x", "y")
      .select(Similarity.cosine(col("x"), col("y")).as("c")).collect()(0)
    assert(odd.isNullAt(0))
  }

  test("morton2 equals bit-by-bit interleave") {
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 21) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L),
      (12345L, 54321L), (2097151L, 2097151L), (1048576L, 1L))
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.morton2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (a, b) =>
      assert(df((a, b)) === ref(a, b), s"($a,$b)") }
  }

  test("quantization: 0..255 range, constant dims to 0, qdot exact") {
    val emb = Seq(
      (1L, Array(0.0f, 1.0f, 5.0f)),
      (2L, Array(1.0f, 1.0f, 2.5f)),
      (3L, Array(2.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val calib = Quantization.calibrate(emb, "embedding")
    val q = Quantization.quantize(emb, "vec_id", "embedding", calib)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(q(1L) === Seq(0L, 0L, 255L))   // dim2 constant -> 0
    assert(q(3L) === Seq(255L, 0L, 0L))
    assert(q(2L) === Seq(127L, 0L, 127L)) // floor(0.5*255)=127
    val dot = emb.select(col("vec_id"), lit(1).as("one")).limit(1)
    // qdot of q(1) . q(3) = 0*255 + 0 + 255*0 = 0; q(2).q(2)=127^2*2
    val d = spark.range(1).select(
      Quantization.qdot(
        typedLit(q(1L)), typedLit(q(3L))).as("a"),
      Quantization.qdot(
        typedLit(q(2L)), typedLit(q(2L))).as("b")).collect()(0)
    assert(d.getLong(0) === 0L)
    assert(d.getLong(1) === 127L * 127L * 2)
  }

  test("k-means: separable clusters recovered, counts partition the corpus") {
    // two tight bundles around orthogonal axes + noise-free members
    val pts = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.5f, 0.0f) else Array(0.0f, 0.5f, 10.0f)
      (i.toLong, base.zipWithIndex.map { case (v, d) => v + (i % 5) * 0.01f * (d + 1) })
    }.toDF("vec_id", "embedding")
    val fit = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toList
    assert(fit.map(_._1).sorted === List(1L, 2L))
    assert(fit.map(_._2).sum === 20L)           // every point assigned once
    val cents = fit.map(_._3)
    // one centroid dominated by dim 0, the other by dim 2
    assert(cents.exists(c => c(0) > 5 && c(2) < 1))
    assert(cents.exists(c => c(2) > 5 && c(0) < 1))
  }

  test("BPE merge rules match the hand-computed greedy sequence") {
    // the classic BPE workbook corpus: low*3 lower*2 newest*6 widest*3.
    // it1 pair counts peak at a 9-9 tie (e,s)/(s,t) -> lexicographic
    // tie-break picks (e,s); it2 merges (es,t); it3 has a 6-6-6 tie
    // (e,w)/(n,e)/(w,est) -> (e,w). Hand-derived, engine-independent.
    val docs = Seq(
      (1L, "low low lower newest newest newest widest"),
      (2L, "low lower newest newest newest widest widest")).toDF("doc_id", "text")
    val got = BpeTrainer.train(docs, "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "e", "s", 9L), (2, "es", "t", 9L), (3, "e", "w", 6L)))
    // adjacent-occurrence merging: an odd run of the same symbol folds
    // left-to-right ("aaaaa" -> aa aa a); round 2 ties (aa,a)/(aa,aa)
    // at 2 and lexicographic order picks (aa,a)
    val runs = Seq((1L, "aaaaa aaaaa")).toDF("doc_id", "text")
    val r2 = BpeTrainer.train(runs, "text", merges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(r2.toSeq === Seq((1, "a", "a", 8L), (2, "aa", "a", 2L)))
    // merge exhaustion stops early instead of erroring
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(BpeTrainer.train(tiny, "text", merges = 5).count() === 1L)
  }

  test("bigram LM scoring matches hand-computed Laplace log-probs") {
    // corpus: doc1 "a b a b", doc2 "a b c" -> V=3, counts (a,b)=3,
    // (b,a)=1, (b,c)=1, contexts a=3 b=2.
    // lp(a,b)=ln(4/6)=-0.405465, lp(b,a)=lp(b,c)=ln(2/5)=-0.916291
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = NgramLm.scoreByBigramLm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 3L && got(2L)._1 === 2L)
    assert(math.abs(got(1L)._2 - (-1.727221)) < 1e-9) // 2*-0.405465-0.916291
    assert(math.abs(got(2L)._2 - (-1.321756)) < 1e-9) // -0.405465-0.916291
    // a gibberish doc under the real corpus model scores below a typical one
    val corpus = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val scored = NgramLm.scoreByBigramLm(corpus, "doc_id", "text")
    assert(scored.count() === corpus.filter(
      size(graft.functions.TextAnalysis.tokens(col("text"))) >= 2).count())
  }

  test("source vocabulary overlap: hand-checked Jaccard incl. a zero-overlap pair") {
    // s1={a,b,c}, s2={b,c,d} -> common 2, jaccard 2/4; s3={x} overlaps nothing
    val docs = Seq((1L, "s1", "a b c"), (2L, "s2", "b c d"), (3L, "s3", "x"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOverlap.vocabularyOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.size === 3)
    assert(got(("s1", "s2")) === ((3L, 3L, 2L, 0.5)))
    assert(got(("s1", "s3")) === ((3L, 1L, 0L, 0.0)))
    assert(got(("s2", "s3")) === ((3L, 1L, 0L, 0.0)))
  }

  test("sketched overlap: exact below k, mirror sources estimate ~1, disjoint 0") {
    // combined vocabularies are far below k=64, so the KMV estimate IS
    // the exact Jaccard in ppm — differential against the exact face
    val docs = Seq((1L, "s1", "a b c"), (2L, "s2", "b c d"), (3L, "s3", "x"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOverlap.sketchedVocabularyOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("s1", "s2")) === ((4L, 2L, 500000L)))
    assert(got(("s1", "s3")) === ((4L, 0L, 0L)))
    assert(got(("s2", "s3")) === ((4L, 0L, 0L)))
    // a verbatim mirror: identical vocab -> every union hash in both
    val big = (1 to 300).map(i => s"w$i").mkString(" ")
    val mirror = Seq((1L, "m1", big), (2L, "m2", big), (3L, "m3", "zz"))
      .toDF("doc_id", "source", "text")
    val est = CorpusOverlap.sketchedVocabularyOverlap(mirror, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4))
      .toMap
    assert(est(("m1", "m2")) === 1000000L) // mirror detected despite k=64
    assert(est(("m1", "m3")) === 0L)
  }

  test("PCA: exact-decimal covariance equals the driver-side double covariance") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = 64
    val vs = e.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vs.length.toDouble
    val mean = Array.tabulate(d)(i => vs.map(_(i)).sum / n)
    val exact = Pca.covarianceExact(e, "embedding", roundTo = 9)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(exact.size === d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d) {
      val c = vs.map(v => v(i) * v(j)).sum / n - mean(i) * mean(j)
      assert(math.abs(c - exact((i, j))) < 1e-6, s"cov($i,$j): $c vs ${exact((i, j))}")
    }
  }
}
