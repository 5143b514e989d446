package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.TypeLattice

/** Transforms, text analysis, inference lattice, similarity and
  * multimodal plumbing.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("decimal formats: dot strips grouping commas; comma format swaps") {
    val df = Seq(("1,234.56", "1.234,56")).toDF("dot", "comma")
    val r = df.select(
      Transforms.parseDecimalDot(col("dot")).as("a"),
      Transforms.parseDecimalComma(col("comma")).as("b")).collect()(0)
    assert(r.getDouble(0) == 1234.56 && r.getDouble(1) == 1234.56)
  }

  test("date chain falls through patterns and nulls on total failure") {
    val df = Seq("01.02.2003 11:12:13", "2003-02-01 11:12:13", "garbage").toDF("s")
    val parsed = df.select(Transforms.parseTimestampChain(col("s"),
      Seq("dd.MM.yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss")).as("t")).collect()
    assert(parsed(0).getTimestamp(0) == parsed(1).getTimestamp(0))
    assert(parsed(2).isNullAt(0))
  }

  test("timezone shift: +02:00 wall-clock renders 2h earlier in UTC") {
    val df = Seq("2003-02-01 11:12:13").toDF("s")
    val r = df.select(Transforms.shiftTimezone(
      Transforms.parseTimestampChain(col("s"), Seq("yyyy-MM-dd HH:mm:ss")),
      "+02:00", "UTC").cast("string")).collect()(0)
    assert(r.getString(0) == "2003-02-01 09:12:13")
  }

  test("bool interpretation accepts the reference token set") {
    val df = Seq("true", "False", "1", "no", "junk").toDF("s")
    val got = df.select(Transforms.interpretBool(col("s"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(got.toSeq == Seq(Some(true), Some(false), Some(true), Some(false), None))
  }

  test("email: normalized lowercase+trim, validity flag") {
    val df = Seq(" Foo.Bar@EXample.COM ", "not-an-email").toDF("s")
    val got = df.select(Transforms.emailNormalize(col("s")),
      Transforms.emailValid(col("s"))).collect()
    assert(got(0).getString(0) == "foo.bar@example.com" && got(0).getBoolean(1))
    assert(!got(1).getBoolean(1))
  }

  test("inference lattice: canonical fixture values (FIXTURES.md §7)") {
    val df = Seq(
      ("123", "123.456E0", "01.02.2003", "01.02.2003 11:12:13", "true", "x" * 4001, "plain"),
      ("456", "1.5", "02.03.2004", "02.03.2004 00:00:00", "false", "y", "länger"),
    ).toDF("i", "d", "dt", "ts", "b", "blob", "vc")
    val got = TypeLattice.infer(df).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got("i") == ("INTEGER", 0L))
    assert(got("d") == ("DOUBLE", 0L))
    assert(got("dt") == ("DATE", 0L))
    assert(got("ts") == ("TIMESTAMP", 0L))
    assert(got("b") == ("BOOLEAN", 0L))
    assert(got("blob") == ("BLOB", 0L))
    assert(got("vc")._1 == "VARCHAR")
    assert(got("vc")._2 == 7L) // "länger" = 7 UTF-8 bytes (ä is 2)
  }

  test("inference: empty values never demote; all-empty column is VARCHAR") {
    val df = Seq(("", "1"), ("", ""), ("", "2")).toDF("e", "i")
    val got = TypeLattice.infer(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("e") == "VARCHAR" && got("i") == "INTEGER")
  }

  test("language ID prefers marker-heavy language, deterministic ties") {
    val df = Seq("der hund und die katze ist da", "the cat is on the mat").toDF("t")
    val got = df.select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("de", "en"))
  }

  test("simhash is stable and near-equal for near-identical docs") {
    val df = Seq("alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon",
      "totally different words here now").toDF("t")
    val hs = df.select(graft.operators.TextDedup.simhash32(col("t"))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("line boilerplate removal: df rule, order kept, in-doc repeats not promoted") {
    val docs = Seq(
      (1L, "FOOTER\nalpha\nbeta\nFOOTER"),
      (2L, "FOOTER\ngamma\ngamma\ndelta"),   // gamma repeats WITHIN doc 2 only
      (3L, "FOOTER\nepsilon"),
      (4L, "zeta\n  FOOTER  ")               // trimmed match still counts
    ).toDF("id", "text")
    val out = graft.operators.LineDedup.removeBoilerplate(docs, "id", "text", maxDf = 3L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // FOOTER appears (trimmed) in 4 docs > maxDf=3 -> dropped everywhere,
    // including doc 1's duplicate and doc 4's padded variant
    assert(out(1L) === (("alpha\nbeta", 2L, 2L)))
    // gamma's df is 1 (distinct within doc) -> both copies kept, in order
    assert(out(2L) === (("gamma\ngamma\ndelta", 3L, 1L)))
    assert(out(3L) === (("epsilon", 1L, 1L)))
    assert(out(4L) === (("zeta", 1L, 1L)))
  }

  test("native Shingles expression is value-identical to the declarative form") {
    import graft.functions.{TextAnalysis, TextShingles}
    // real corpus texts plus the edge shapes: empty text, single token,
    // exactly-k tokens, k-1 tokens
    val docs = graft.Tables.documents(spark, sf()).limit(200).select(col("text"))
      .unionAll(Seq("", "one", "a b c", "a b", "  padded   whitespace  text   here ")
        .toDF("text"))
    for (k <- Seq(1, 3, 5)) {
      val both = docs.select(
        TextShingles.shingles(TextAnalysis.tokens(col("text")), k).as("native"),
        TextShingles.shinglesDeclarative(TextAnalysis.tokens(col("text")), k).as("decl"))
      assert(both.filter(col("native") =!= col("decl")).count() == 0, s"k=$k")
    }
  }

  test("native SimHash32 expression is bit-identical to the declarative form") {
    val docs = graft.Tables.documents(spark, sf()).limit(100)
    val both = docs.select(
      graft.operators.TextDedup.simhash32(col("text")).as("native"),
      graft.operators.TextDedup.simhash32Declarative(col("text")).as("decl"))
    assert(both.filter(col("native") =!= col("decl")).count() == 0)
    // SQL registration path
    graft.plans.SimHash32Expr.register(spark)
    docs.createOrReplaceTempView("__docs_simhash")
    val viaSql = spark.sql(
      """SELECT simhash32(filter(split(lower(trim(text)), '\\s+'), t -> length(t) > 0))
        | AS h FROM __docs_simhash""".stripMargin)
    assert(viaSql.count() == 100)
  }

  test("cosine similarity: identical vectors → 1.0, orthogonal → 0.0") {
    val df = Seq((Array(1f, 0f, 2f), Array(1f, 0f, 2f), Array(0f, 3f, 0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      graft.operators.Similarity.cosine(col("a"), col("b")),
      graft.operators.Similarity.cosine(col("a"), col("c"))).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("hyperplane-LSH near-dup: subset of exact tier, full recall on copies") {
    import graft.operators.Similarity
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val corpus = e.unionAll(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("label"), col("embedding")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").as[(Long, Long)].collect().sorted.toSeq
    val exact = canon(Similarity.nearDupPairs(corpus, threshold = 0.99))
    val lsh = canon(Similarity.nearDupPairsLsh(corpus, threshold = 0.99))
    // exact precision: every LSH pair is a true pair
    assert(lsh.toSet.subsetOf(exact.toSet))
    // exact copies agree on every hyperplane sign → recall 1 on them;
    // here the planted copies are the entire ground truth
    assert(lsh == exact && exact.nonEmpty)
  }

  test("embedding decontamination: planted eval copies flagged, argmax deterministic") {
    import graft.operators.Decontamination
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val eval = e.filter(col("vec_id") < 50)
    // train = disjoint rest + exact copies of eval ids {0, 10, 20, 30, 40}
    val train = e.filter(col("vec_id") >= 50)
      .unionAll(eval.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 500000L).as("vec_id"), col("label"),
          col("embedding")))
    val got = Decontamination.embeddingContamination(train, eval,
        threshold = 0.999999, bucketCol = Some("label"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // every planted copy is flagged with ITS source as the argmax at
    // cosine 1.0 (an exact copy agrees on every hyperplane sign →
    // guaranteed candidate; at 0.999999 nothing organic qualifies
    // unless it's also an exact-direction match, which the assert on
    // the planted keys tolerates)
    for (src <- Seq(0L, 10L, 20L, 30L, 40L)) {
      val (n, top, sim) = got(src + 500000L)
      assert(n >= 1L && top == src && sim == 1.0, s"src=$src got=${got(src + 500000L)}")
    }
  }

  test("repetition signals: folds match brute force, degenerate docs yield zeros") {
    val docs = Seq(
      ("a b a b a b c", 3L),   // "a b" ×3 is the mode
      ("x", 0L),                // single token: no bigrams
      ("", 0L),                 // empty
      ("p q r s", 1L)           // all bigrams distinct
    ).toDF("text", "expected_top")
    val got = docs.select(col("expected_top"),
      TextAnalysis.topBigramCount(col("text")).as("top"),
      TextAnalysis.duplicateBigramFrac(col("text")).as("dupf")).collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(0), r.toString))
    // "a b a b a b c": bigrams = [a b, b a, a b, b a, a b, b c] → 6 total,
    // 3 distinct → dup frac 0.5
    assert(got(0).getDouble(2) == 0.5)
    assert(got(3).getDouble(2) == 0.0)
    val lines = Seq("one\ntwo\n\none\n  ", "solo").toDF("t")
      .select(TextAnalysis.duplicateLineFrac(col("t"))).collect()
    assert(lines(0).getDouble(0) == 1.0 / 3.0) // [one,two,one]: 1 dup of 3
    assert(lines(1).getDouble(0) == 0.0)
  }

  test("PII redaction replaces every class and passes cannot re-match") {
    val df = Seq(
      "mail a.b+c@ex-1.org and 10.20.30.40 then +4915112345678 done"
    ).toDF("t")
    val r = df.select(
      TextAnalysis.piiCount(col("t"), TextAnalysis.EmailRe).as("e"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.Ipv4Re).as("i"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.PhoneRe).as("p"),
      TextAnalysis.redactPii(col("t")).as("red")).collect()(0)
    assert(r.getInt(0) == 1 && r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getString(3) == "mail <EMAIL> and <IP> then <PHONE> done")
    // an email's dotted domain must not leak a partial <IP> match
    val domainOnly = Seq("reach me at n1@10.20.30.40.example.com ok").toDF("t")
      .select(TextAnalysis.redactPii(col("t"))).collect()(0).getString(0)
    assert(domainOnly == "reach me at <EMAIL> ok")
  }

  test("hyperplane band keys partition a bucket and agree on copies") {
    import graft.operators.Similarity
    val w = Similarity.hyperplaneWeights(12, 4)
    assert(w.length == 12 && w.forall(_.length == 4))
    assert(w.flatten.forall(x => x >= -1.0 && x < 1.0))
    // deterministic across calls
    assert(Similarity.hyperplaneWeights(12, 4).flatten.toSeq == w.flatten.toSeq)
    val df = Seq((1L, Array(1f, 2f, -3f, 0.5f)), (2L, Array(1f, 2f, -3f, 0.5f)),
        (3L, Array(-1f, -2f, 3f, -0.5f)))
      .toDF("id", "v")
      .withColumn("bits", Similarity.hyperplaneBits(col("v"), w))
      .withColumn("keys", Similarity.packBandKeys(col("bits"), bands = 4, r = 3))
    val rows = df.select("id", "keys").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(rows(0)._2 == rows(1)._2)            // identical vectors: same keys
    assert(rows(0)._2 != rows(2)._2)            // antipodal: all bits flip
    assert(rows.forall(_._2.forall(k => k >= 0 && k < 8)))
  }

  test("brute-force top-k returns k neighbors ranked by similarity") {
    val corpus = Seq((10L, Array(1f, 0f)), (11L, Array(0.9f, 0.1f)), (12L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("query_id", "query_vec")
    val got = graft.operators.Similarity.bruteForceTopK(queries, corpus, 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(got.toSeq == Seq(10L, 11L))
  }

  test("LSH index probe finds the same pairs as the in-session join") {
    import graft.operators.TextDedup
    val corpus = graft.Tables.documents(spark, sf()).limit(150)
      .select(col("doc_id"), col("text"))
    val fresh = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 9000).as("doc_id"),
        regexp_replace(col("text"), "^(\\S+\\s+){2}", "").as("text"))
    val idx = new java.io.File(
      graft.sources.SyntheticFixtures.dir("lshindex"), "spec").getPath
    TextDedup.writeLshIndex(corpus, "doc_id", "text", idx)
    val probed = TextDedup.probeLshIndex(fresh, "doc_id", "text", idx, threshold = 0.5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().sorted.toSeq
    // ground truth: full pairwise verified join over corpus+fresh,
    // restricted to cross pairs
    val full = TextDedup.verifiedNearDupPairs(corpus.unionAll(fresh),
        "doc_id", "text", threshold = 0.5)
      .filter(col("id2") >= 9000 && col("id1") < 9000)
      .select(col("id2"), col("id1")).as[(Long, Long)].collect().sorted.toSeq
    assert(probed == full && probed.nonEmpty)
  }

  test("native minhash signature equals the declarative formulation") {
    import graft.operators.TextDedup
    import graft.functions.{TextAnalysis, TextShingles}
    val docs = graft.Tables.documents(spark, sf()).limit(200)
      .select(col("doc_id"),
        array_distinct(TextShingles.shingles(
          TextAnalysis.tokens(col("text")), 3)).as("shingles"))
    val both = docs.select(col("doc_id"),
        graft.plans.MinHashSigExpr.minhashSig(col("shingles"), 12).as("native"),
        TextDedup.minhashSignature(
          TextDedup.minhashBase(col("shingles")), 12).as("declarative"))
      .withColumn("same", col("native") === col("declarative"))
    assert(both.filter(!col("same")).count() == 0)
    assert(both.count() == 200)
  }

  test("multimodal real image decode: PNG roundtrip via ImageIO") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal._
    // gradient image (not solid): the channel means are not constant
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 20)
      img.setRGB(x, y, ((x * 12) << 16) | ((y * 25) << 8) | 40)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "image", out.toByteArray),
      MediaRecord(2L, "image", Multimodal.solidPng(16, 8, 10, 20, 30)),
      MediaRecord(3L, "image", "not an image".getBytes("UTF-8"))))
    val feats = Multimodal.imageFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L)) // undecodable drops
    assert(feats(0).width == 20 && feats(0).height == 10 && feats(0).mean_b == 40.0)
    assert(feats(1) == ImageFeatures(2L, 16, 8, 10.0, 20.0, 30.0))
  }

  test("multimodal perceptual dHash: shift-invariant, formula-exact, discriminating") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal._
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "image", Multimodal.gridPng(seed = 70L, delta = 0)),
      MediaRecord(2L, "image", Multimodal.gridPng(seed = 70L, delta = 1)),
      MediaRecord(3L, "image", Multimodal.gridPng(seed = 71L, delta = 0)),
      MediaRecord(4L, "image", "not an image".getBytes("UTF-8"))))
    val hs = Multimodal.imageDHashes(ds).collect().sortBy(_.media_id)
    assert(hs.map(_.media_id).toSeq == Seq(1L, 2L, 3L)) // undecodable drops
    // +1 brightness shift: every byte differs, the perceptual hash doesn't
    assert(!java.util.Arrays.equals(
      Multimodal.gridPng(70L, 0), Multimodal.gridPng(70L, 1)))
    assert((hs(0).hash_hi, hs(0).hash_lo) == (hs(1).hash_hi, hs(1).hash_lo))
    // a different seed hashes differently
    assert((hs(0).hash_hi, hs(0).hash_lo) != (hs(2).hash_hi, hs(2).hash_lo))
    // every bit agrees with the fixture formula replayed independently
    def v(kb: Long, gx: Int, gy: Int): Long =
      (kb * 31 + gx * 17 + gy * 29 + gx * gy * 7 +
        (kb % 251) * gx * 13 + (kb % 241) * gy * 11) % 255
    var hi = 0L; var lo = 0L
    for (gy <- 0 until 8; gx <- 0 until 8)
      if (v(70L, gx + 1, gy) > v(70L, gx, gy)) {
        val i = gy * 8 + gx
        if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
      }
    assert((hs(0).hash_hi, hs(0).hash_lo) == (hi, lo))
    // grid geometry survives the decode
    assert(hs(0).width == 36 && hs(0).height == 32)
  }

  test("multimodal real audio decode: WAV roundtrip via javax.sound") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal._
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "audio", Multimodal.squareWav(8000, 5000, 1600)),
      MediaRecord(2L, "audio", Multimodal.squareWav(16000, 123, 800)),
      MediaRecord(3L, "audio", "not audio".getBytes("UTF-8"))))
    val feats = Multimodal.audioFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L)) // undecodable drops
    assert(feats(0) == AudioFeatures(1L, 8000, 1, 1600L, 5000.0))
    assert(feats(1) == AudioFeatures(2L, 16000, 1, 800L, 123.0))
  }

  test("multimodal silence spans: burst WAV decodes to the exact span layout") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal._
    // 1600 samples, 400-sample bursts (active/silent/active/silent),
    // 160-sample frames: frames 0-9, burst boundaries at frames 2.5/5/7.5
    // → fully-silent frames {3,4} and {8,9} (2.5 and 7.5 straddle)
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "audio", Multimodal.burstWav(8000, 5000, 1600, 400)),
      MediaRecord(2L, "audio", Multimodal.squareWav(8000, 777, 800)), // no silence
      MediaRecord(3L, "audio", "junk".getBytes("UTF-8"))))
    val frames = Multimodal.audioFrameEnergy(ds, frameSamples = 160)
    val got = Multimodal.silenceSpans(frames, threshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(got.toSeq === Seq((1L, 1L, 3L, 4L, 2L), (1L, 2L, 8L, 9L, 2L)))
    // frame energies themselves: active frames carry A² per sample
    val f0 = frames.collect().filter(f => f.media_id == 1L).minBy(_.frame_idx)
    assert(f0.n_samples === 160L && f0.sum_sq === 160L * 5000L * 5000L)
  }

  test("multimodal real video decode: AVI roundtrip via the RIFF walker") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal._
    val colors = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120))
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "video", Multimodal.solidAvi(33, 24, 10, colors)), // odd width: row padding
      MediaRecord(2L, "video", Multimodal.solidAvi(16, 8, 25, colors.take(1))),
      MediaRecord(3L, "video", "not a riff".getBytes("UTF-8"))))
    val frames = Multimodal.videoFrameFeatures(ds, stride = 2).collect()
      .sortBy(f => (f.media_id, f.frame_idx))
    // stride 2 over 4 frames -> indices 0 and 2; undecodable payload drops
    assert(frames.map(f => (f.media_id, f.frame_idx)).toSeq ==
      Seq((1L, 0L), (1L, 2L), (2L, 0L)))
    assert(frames(0) == VideoFrame(1L, 0L, 33, 24, 10.0, 20.0, 30.0))
    assert(frames(1) == VideoFrame(1L, 2L, 33, 24, 70.0, 80.0, 90.0))
    assert(frames(2) == VideoFrame(2L, 0L, 16, 8, 10.0, 20.0, 30.0))
  }

  test("exact dedup groups identical normalized content") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val got = graft.operators.TextDedup.exactDedup(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("prefix-filtered Jaccard equals brute-force enumeration (PPJoin invariant)") {
    val docs = graft.Tables.documents(spark, sf()).limit(120)
      .select(col("doc_id"), col("text"))
    val mutated = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 5000).as("doc_id"),
        regexp_replace(col("text"), "^(\\S+\\s+){2}", "").as("text"))
    val corpus = docs.unionAll(mutated)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").as[(Long, Long)].collect().sorted.toSeq
    val brute = canon(graft.operators.TextDedup.jaccardPairs(
      corpus, "doc_id", "text", k = 3, threshold = 0.55, maxShingleDocFreq = Long.MaxValue))
    val prefix = canon(graft.operators.TextDedup.jaccardPairsPrefix(
      corpus, "doc_id", "text", k = 3, threshold = 0.55))
    assert(prefix == brute && brute.nonEmpty)
  }

  test("text_normalize: NFC composes, controls strip, NBSP survives") {
    import spark.implicits._
    val got = Seq(
      "éclair",               // decomposed accent -> composed é
      "a\tb\r\nc",                  // controls -> single spaces
      "  lots   of   space  ",      // collapse + trim
      "nb sp",                 // NBSP is data, survives
      "\t \t",                      // all-whitespace -> empty
      "café")                  // already-composed stays
      .toDF("s")
      .select(graft.plans.TextNormalizeExpr.textNormalize(col("s")).as("t"))
      .as[String].collect().toSeq
    assert(got == Seq("éclair", "a b c", "lots of space",
      "nb sp", "", "café"))
    // SQL registration path
    graft.plans.TextNormalizeExpr.register(spark)
    val viaSql = spark.sql("SELECT text_normalize('é  x') AS t")
      .as[String].head()
    assert(viaSql == "é x")
  }

  test("token entropy: repeated-token doc scores 0; mixed doc exact") {
    val df = Seq((1L, "a a a a"), (2L, "a a b c"), (3L, "   "))
      .toDF("doc_id", "text")
    val got = graft.operators.TextStats.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // zero-token doc produces no row; ln(1) = 0 for the constant doc
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((4L, 1L, 0.0)))
    // doc 2: 2·round(ln(1/2),6) + 1·round(ln(1/4),6)·2 terms
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = (BigDecimal(2) * r6(math.log(0.5)) +
      BigDecimal(1) * r6(math.log(0.25)) + BigDecimal(1) * r6(math.log(0.25)))
    assert(got(2L)._1 === 4L && got(2L)._2 === 3L)
    assert(got(2L)._3 === expected.toDouble)
  }

  test("PMI collocations: planted phrase tops the list; floor applied") {
    // "spark shell" always adjacent (planted collocation); "the the"
    // frequent but independent
    val rows = (0 until 10).map(i => (i.toLong,
      "spark shell " + Seq.fill(4)("the noise" + i).mkString(" ") + " the"))
    val got = graft.operators.TextStats
      .pmiCollocations(rows.toDF("doc_id", "text"), "text", minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // floor: every surviving pair has c12 >= 5
    got.foreach(p => assert(p._3 >= 5, p))
    // the planted pair ranks first and has positive PMI
    assert((got.head._1, got.head._2) === (("spark", "shell")))
    assert(got.head._4 > 0)
    // descending pmi with lexicographic tie-break
    got.toSeq.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && (a._1, a._2).toString <= (b._1, b._2).toString))
    case _ => }
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val near = "three four five six seven eight nine ten eleven twelve"
    val far = "completely unrelated set of words with zero overlap whatsoever"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = graft.operators.TextDedup
      .verifiedNearDupPairs(df, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("PiiMask: digits star out except the kept tail; format + email audit") {
    import graft.functions.PiiMask
    val df = Seq(
      ("25-989-741-2988", "mail a@b.org and c.d+x@e-f.co today"),
      ("bad-123", "no addresses here"),
      (null, null))
      .toDF("phone", "cm")
      .select(
        PiiMask.maskDigitsKeepLast(col("phone"), 4).as("m"),
        PiiMask.phoneFormatValid(col("phone")).as("v"),
        PiiMask.emailCount(col("cm")).as("n"))
    val rows = df.collect()
    assert(rows(0).getString(0) === "**-***-***-2988")
    assert(rows(0).getBoolean(1) === true)
    assert(rows(0).getInt(2) === 2)
    assert(rows(1).getString(0) === "bad-123") // only DIGITS mask; the
      // kept 4-char tail ("-123") passes verbatim by design
    assert(rows(1).getBoolean(1) === false)
    assert(rows(1).getInt(2) === 0)
    // NULL text propagates NULL (matches the DuckDB regexp_split replica)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("weighted Jaccard: rare shared content scores, boilerplate does not") {
    // all four docs carry the boilerplate shingle (df=4, weight 0);
    // docs 3 and 4 additionally share rare content
    val df = Seq(
      (1L, "b1 b2 b3"), (2L, "b1 b2 b3"),
      (3L, "r1 r2 r3 b1 b2 b3 z3"), (4L, "r1 r2 r3 b1 b2 b3 z4"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextDedup
      .weightedJaccardPairs(df, "doc_id", "text", k = 3, threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    // (1,2) share ONLY weight-0 boilerplate: zero union weight, no NaN
    // row emitted; (3,4) share the rare prefix shingles
    assert(!got.contains((1L, 2L)))
    assert(got.contains((3L, 4L)) && got((3L, 4L)) > 0.25)
    // boilerplate-only overlap between a short and a long doc: the
    // (1,3) pair's common weight is 0 -> drops below any threshold
    assert(!got.contains((1L, 3L)))
  }

  test("first-seen novelty: later docs lose credit for repeated trigrams") {
    val df = Seq(
      (1L, "a b c d"), // trigrams {a b c, b c d} — both first-seen
      (2L, "a b c x"), // {a b c (seen), b c x (novel)} → 1/2
      (3L, "a b c d")) // both seen → 0
      .toDF("doc_id", "text")
    val got = graft.operators.TextStats
      .firstSeenNovelty(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((2L, 2L, 1000000L)))
    assert(got(2L) === ((2L, 1L, 500000L)))
    assert(got(3L) === ((2L, 0L, 0L)))
  }

  test("trigram repetition: looped text scores high, varied text zero") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // trigrams: 7 total, aba/bca variants — repeated
      (2L, "one two three four five"), // all distinct
      (3L, "x y")) // < 3 tokens: no row
      .toDF("doc_id", "text")
    val got = graft.operators.TextStats
      .trigramRepetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: trigrams at offsets 0..6 = [abc bca cab abc bca cab abc]
    // → 7 total, 3 distinct → ratio 1 - 3/7
    assert(got(1L) === ((7L, 3L,
      BigDecimal(1.0 - 3.0 / 7.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    assert(got(2L) === ((3L, 3L, 0.0)))
    assert(!got.contains(3L))
  }
}
