package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.SparkSpec
import graft.sources.CsvSource

/** Property tests (SURVEY §5: "Add ScalaCheck property tests for the
  * type-inference lattice and dedup semantics"): Spark operators vs a
  * plain-Scala reference model on randomized data.
  */
class PropertiesSpec extends SparkSpec {

  private def check(p: Prop, minSuccessful: Int): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful).withWorkers(1), p)
    assert(r.passed, r.status.toString)
  }

  import spark.implicits._

  private val rowGen: Gen[(Int, Option[String], Int)] = for {
    k <- Gen.chooseNum(0, 5)
    v <- Gen.option(Gen.alphaStr.map(_.take(6)))
  } yield (k, v, 0)

  private val dataGen: Gen[List[(Int, Option[String], Int)]] =
    Gen.listOfN(30, rowGen).map(_.zipWithIndex.map { case ((k, v, _), i) => (k, v, i) })

  test("dropDuplicatesKeepFirst keeps exactly the min-ordinal row per key") {
    check(Prop.forAllNoShrink(dataGen) { data =>
      val df = data.toDF("k", "v", "ord")
      val got = Dedup.dropDuplicatesKeepFirst(df, Seq("k"), Seq(col("ord")))
        .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2))).toSet
      val expected = data.groupBy(_._1).values.map(_.minBy(_._3)).toSet
      got == expected
    }, 8)
  }

  test("joinDuplicates(updateWithNull=true) equals the last row per key") {
    check(Prop.forAllNoShrink(dataGen) { data =>
      val df = data.toDF("k", "v", "ord")
      val got = Dedup.joinDuplicates(df.select(col("k"), col("v"), col("ord")),
          Seq("k"), col("ord"), updateWithNull = true)
        .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toMap
      val expected = data.groupBy(_._1).map { case (k, rows) =>
        k -> rows.maxBy(_._3)._2
      }
      got == expected
    }, 8)
  }

  test("joinDuplicates(updateWithNull=false) equals the last NON-NULL per column") {
    check(Prop.forAllNoShrink(dataGen) { data =>
      val df = data.toDF("k", "v", "ord")
      val got = Dedup.joinDuplicates(df.select(col("k"), col("v"), col("ord")),
          Seq("k"), col("ord"), updateWithNull = false)
        .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toMap
      val expected = data.groupBy(_._1).map { case (k, rows) =>
        k -> rows.sortBy(_._3).reverse.collectFirst {
          case (_, Some(v), _) => v
        }
      }
      got == expected
    }, 8)
  }

  test("upsert invariants: keys = union, untouched target keys unchanged") {
    val srcGen = Gen.listOfN(15, Gen.zip(Gen.chooseNum(0, 8), Gen.alphaStr.map(_.take(4))))
    val tgtGen = Gen.listOfN(6, Gen.zip(Gen.chooseNum(5, 12), Gen.alphaStr.map(_.take(4))))
      .map(_.distinctBy(_._1))
    check(Prop.forAllNoShrink(Gen.zip(srcGen, tgtGen)) { case (src, tgt) =>
      val srcDf = src.zipWithIndex.map { case ((k, v), i) => (k, v, i) }.toDF("k", "v", "ord")
      val tgtDf = tgt.toDF("k", "v")
      val out = Merge.importMerge(tgtDf, srcDf, Seq(Merge.Key("k")),
          Merge.ImportMode.Upsert, Merge.DuplicateMode.UpdateAllJoin,
          updateWithNull = true, sourceOrder = col("ord"), targetOrder = Seq(col("k")))
        .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1)))
      val outKeys = out.map(_._1).toSet
      val expectKeys = tgt.map(_._1).toSet ++ src.map(_._1).toSet
      val untouched = tgt.filterNot(t => src.exists(_._1 == t._1))
      val untouchedOk = untouched.forall(t => out.contains(t))
      val updatedOk = src.groupBy(_._1).forall { case (k, rows) =>
        out.toMap.get(k).contains(rows.last._2)
      }
      outKeys == expectKeys && untouchedOk && updatedOk && out.length == outKeys.size
    }, 6)
  }

  test("inference lattice: numeric strings never misclassify") {
    val colGen: Gen[List[String]] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.chooseNum(-999999999, 999999999).map(_.toString),
      Gen.chooseNum(-1e9, 1e9).map(d => f"$d%.3f"),
      Gen.oneOf("true", "false"),
      Gen.alphaStr.map(s => "w" + s.take(8))))
    check(Prop.forAllNoShrink(Gen.listOfN(12, colGen.map(_.take(12)))) { cols =>
      val n = cols.map(_.size).max
      val padded = cols.map(c => c.padTo(n, c.head))
      val rows = (0 until n).map(i => padded.map(_(i)))
      val names = cols.indices.map(i => s"c$i")
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq), 2),
        org.apache.spark.sql.types.StructType(names.map(nm =>
          org.apache.spark.sql.types.StructField(nm,
            org.apache.spark.sql.types.StringType))))
      val decided = graft.schema.TypeLattice.stats(df, names)
        .map(graft.schema.TypeLattice.decide).map(i => i.columnName -> i.dataType).toMap
      cols.zipWithIndex.forall { case (vals, i) =>
        val t = decided(s"c$i")
        def isInt(s: String) = s.matches("[+-]?\\d{1,9}")
        def isDouble(s: String) = s.matches("[+-]?(\\d+([.]\\d*)?|[.]\\d+)([eE][+-]?\\d+)?") && s.length <= 20
        def isBool(s: String) = s == "true" || s == "false"
        if (vals.forall(isInt)) t == "INTEGER"
        else if (vals.forall(isDouble)) Set("DOUBLE", "BIGINT")(t)
        else if (vals.forall(isBool)) t == "BOOLEAN"
        else if (vals.exists(v => !isInt(v) && !isDouble(v) && !isBool(v)))
          Set("VARCHAR", "BLOB", "DATE", "TIMESTAMP")(t) // mixed → never numeric
        else true
      }
    }, 6)
  }

  test("bandedRangeJoin plans a hash join, never nested-loop") {
    import graft.operators.TemporalJoins
    val left = (1 to 100).map(i => (i % 5, i.toLong, i.toLong * 10)).toDF("k", "id", "ts")
    val right = (1 to 100).map(i => (i % 5, i.toLong * 7)).toDF("k", "rts")
    val plan = TemporalJoins.bandedRangeJoin(left, right, Seq("k"), "ts", "rts",
        lower = -50L, upper = 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to nested-loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("bloom-probed anti-join: identical to plain left-anti") {
    import graft.operators.BloomProbe
    val gen = for {
      staged <- Gen.listOfN(40, Gen.chooseNum(0, 60))
      target <- Gen.listOfN(40, Gen.chooseNum(0, 60))
    } yield (staged.zipWithIndex, target.distinct)
    check(Prop.forAll(gen) { case (stagedKeys, targetKeys) =>
      val staged = stagedKeys.map { case (k, i) => (k, s"s$i") }.toDF("k", "v")
      val target = targetKeys.map(k => (k, s"t$k")).toDF("k", "tv")
      val plain = staged.join(target, Seq("k"), "left_anti")
        .as[(Int, String)].collect().toSet
      val bloomed = BloomProbe.antiJoinWithBloom(staged, target, Seq("k"),
          expectedKeys = 100L)
        .as[(Int, String)].collect().toSet
      bloomed == plain
    }, 8)
  }

  test("asofJoin: most recent right row at-or-before, per key") {
    import graft.operators.TemporalJoins
    val left = Seq((1L, 101L, 100L), (1L, 102L, 200L), (1L, 103L, 50L),
        (2L, 201L, 100L))
      .toDF("k", "id", "ts")
    val right = Seq((1L, 100L, "a"), (1L, 150L, "b"), (1L, 200L, "c"),
        (3L, 10L, "z"))
      .toDF("k", "ts", "v")
    val got = TemporalJoins.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .orderBy("id").select("id", "v").as[(Long, Option[String])].collect().toSeq
    // id 101 @100 → right @100 ("a", tie included); id 102 @200 → "c";
    // id 103 @50 → none; key 2 has no right rows at all
    assert(got == Seq((101L, Some("a")), (102L, Some("c")), (103L, None),
      (201L, None)))
  }

  test("asofJoin: property — equals the per-row argmax subquery") {
    import graft.operators.TemporalJoins
    val pairGen = for {
      k <- Gen.chooseNum(0, 3); ts <- Gen.chooseNum(0L, 40L)
    } yield (k, ts)
    val gen = for {
      ls <- Gen.listOfN(25, pairGen)
      rs <- Gen.listOfN(25, pairGen)
    } yield (ls.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) },
      rs.map { case (k, t) => (k, t) }.distinct)
    check(Prop.forAll(gen) { case (ls, rs) =>
      val left = ls.toDF("k", "id", "ts")
      val right = rs.map { case (k, t) => (k, t, s"v$k-$t") }.toDF("k", "ts", "v")
      val got = TemporalJoins.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("v"))
        .select("id", "v").as[(Long, Option[String])].collect().toMap
      ls.forall { case (k, id, ts) =>
        val expect = rs.filter(r => r._1 == k && r._2 <= ts)
          .sortBy(_._2).lastOption.map { case (rk, rt) => s"v$rk-$rt" }
        got(id) == expect
      }
    }, 8)
  }

  test("bandedRangeJoin: identical to the plain range predicate") {
    import graft.operators.TemporalJoins
    val pairGen = for {
      k <- Gen.chooseNum(0, 3); ts <- Gen.chooseNum(0L, 100L)
    } yield (k, ts)
    val gen = for {
      ls <- Gen.listOfN(20, pairGen)
      rs <- Gen.listOfN(20, pairGen)
    } yield (ls.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }, rs)
    check(Prop.forAll(gen) { case (ls, rs) =>
      val left = ls.toDF("k", "id", "ts")
      val right = rs.zipWithIndex.map { case ((k, t), j) => (k, j.toLong, t) }
        .toDF("k", "rid", "rts")
      val banded = TemporalJoins.bandedRangeJoin(left, right, Seq("k"),
          "ts", "rts", lower = -7L, upper = 13L)
        .select("id", "rid").as[(Long, Long)].collect().toSet
      val plain = ls.flatMap { case (k, id, ts) =>
        rs.zipWithIndex.collect { case ((rk, rt), j)
          if rk == k && rt - ts >= -7L && rt - ts <= 13L => (id, j.toLong) }
      }.toSet
      banded == plain
    }, 8)
  }

  test("connected components equals union-find on random graphs") {
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L))
    val graphGen = Gen.listOfN(35, edgeGen)
    check(Prop.forAllNoShrink(graphGen) { edges =>
      val df = edges.toDF("a", "b")
      val got = ConnectedComponents.labels(df, "a", "b")
        .as[(Long, Long)].collect().toMap
      // reference: plain union-find with min-root bookkeeping
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }
        .filter(n => edges.exists { case (a, b) => a != b && (a == n || b == n) })
        .distinct
      val expected = nodes.map(n => n -> find(n)).toMap
      got == expected
    }, 6)
  }

  test("KMV sketch: merge of halves equals sketch of the union") {
    val k = 16
    val all = spark.range(0, 4000)
      .select((col("id") % 4).cast("string").as("g"),
        concat(lit("v"), (col("id") * 37 % 977).cast("string")).as("w"))
    val a = all.filter(col("id") % 2 === 0)
    val b = all.filter(col("id") % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val whole = rows(Sketches.kmvSketch(all, Seq("g"), "w", k))
    val merged = rows(Sketches.kmvMerge(
      Sketches.kmvSketch(a, Seq("g"), "w", k),
      Sketches.kmvSketch(b, Seq("g"), "w", k), Seq("g"), k))
    assert(merged === whole)
    // estimate lands near the true distinct count (977 shared values,
    // std err ~1/sqrt(k-1); generous deterministic bound)
    val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(all, Seq("g"), "w", k), Seq("g"), k)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val truth = all.distinct().groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) / n < 0.6, s"g=$g est=${est(g)} n=$n") }
    // not-full sketches are exact
    val tiny = Seq(("x", "a"), ("x", "b"), ("x", "a")).toDF("g", "w")
    val e2 = Sketches.kmvEstimate(
      Sketches.kmvSketch(tiny, Seq("g"), "w", k), Seq("g"), k).collect()
    assert(e2.head.getDouble(3) === 2.0)
  }

  test("PairMetrics.confusion: orientation-normalized counts and ratios") {
    // approx: 1 true (mirrored orientation), 1 false positive, 1 dup row;
    // exact: 2 pairs -> precision 1/2, recall 1/2
    val approx = Seq((2L, 1L), (4L, 9L), (1L, 2L)).toDF("id1", "id2")
    val exact = Seq((1L, 2L), (5L, 6L)).toDF("id1", "id2")
    val r = PairMetrics.confusion(approx, exact).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 2L, 1L)))
    assert(r.getDouble(3) === 0.5 && r.getDouble(4) === 0.5)
    // empty approximation of an empty truth is perfect
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val e = PairMetrics.confusion(empty, empty).collect()(0)
    assert(e.getLong(0) === 0L && e.getDouble(3) === 1.0 && e.getDouble(4) === 1.0)
  }

  test("madOutliers: hand-checked median, MAD, and cutoff count") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0),
      ("h", 5.0), ("h", 5.0), ("h", 5.0)).toDF("grp", "x")
    val got = Outliers.madOutliers(df, Seq("grp"), "x", cutoff = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // g: med 3, devs {2,1,0,1,97} -> mad 1, only 97 > 3
    assert(got("g") === ((5L, 3.0, 1.0, 1L)))
    // h: constant group -> mad 0, nothing strictly exceeds 0
    assert(got("h") === ((3L, 5.0, 0.0, 0L)))
  }

  test("BPE encode: replace chain equals imperative greedy merging") {
    // independent reference: each rule applied once, left-to-right,
    // non-overlapping — the Sennrich reference semantics
    def refEncode(w: String, rules: Seq[(String, String)]): Seq[String] = {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- rules) {
        var i = 0
        val out = Vector.newBuilder[String]
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val texts = Seq("low lower lowest", "new newer newest west",
      "aaaa aab abab bbbb", "x yz zzz lowlow")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rules = BpeTrainer.train(docs, "text", merges = 6)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rules.nonEmpty)
    val got = BpeEncoder.encodeVocab(docs, "text", rules)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val vocab = texts.flatMap(_.split(" ")).distinct
    vocab.foreach { w =>
      val expected = refEncode(w, rules)
      assert(got(w) === ((expected.length.toLong, expected.mkString(" "))),
        s"word=$w rules=$rules")
    }
    // per-doc accounting: n_words = token count, subwords sum matches
    val counts = BpeEncoder.subwordCounts(docs, "doc_id", "text", rules)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val ws = t.split(" ").toSeq
      assert(counts(i.toLong) ===
        ((ws.length.toLong, ws.map(w => refEncode(w, rules).length.toLong).sum)))
    }
  }

  test("event transitions: probs row-normalize; counts cover all steps") {
    val rows = graft.SparkEntry.queries("q112_event_transitions")(spark, sf())
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // each from-state's probabilities sum to 1 (up to 6-dp rounding)
    rows.groupBy(_._1).foreach { case (from, ts) =>
      assert(math.abs(ts.map(_._4).sum - 1.0) < 1e-4, s"from=$from") }
    // total transitions = Σ_users (n_events − 1)
    val ev = spark.read.parquet(sf() + "/events.parquet")
    val expected = ev.groupBy("user_id").count()
      .agg(org.apache.spark.sql.functions.sum(col("count") - 1)).collect()(0).getLong(0)
    assert(rows.map(_._3).sum === expected)
  }

  test("simhashPairs equals brute-force Hamming <= 3 over the sketches") {
    // near-identical docs (1-token edits) plus unrelated ones
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 30).map { i =>
      val t =
        if (i < 10) base + " tail" + (i % 3)             // tight near-dups
        else if (i < 20) base.split(" ").drop(i % 4).mkString(" ")
        else s"совсем other words nr$i unique${i * 7} stuff${i}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val got = TextDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = docs.select(col("doc_id"), TextDedup.simhash32(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      i <- sh.keys; j <- sh.keys if i < j
      h = java.lang.Long.bitCount(sh(i) ^ sh(j)) if h <= 3
    } yield (i, j, h.toLong)).toSet
    assert(got === brute)
    assert(brute.nonEmpty) // the construction must actually exercise it
  }

  test("Misra-Gries candidates cover all frequent items; recount is exact") {
    // zipfian-ish stream: few hot tokens, long unique tail
    val p = Prop.forAll(
      Gen.listOfN(400, Gen.frequency(
        (6, Gen.oneOf("hot1", "hot2", "hot3")),
        (3, Gen.oneOf((0 until 20).map("warm" + _))),
        (2, Gen.chooseNum(0, 100000).map("tail" + _)))),
      Gen.chooseNum(1, 8), Gen.chooseNum(3, 40)) { (items, parts, k) =>
      val df = items.toDF("item").repartition(parts)
      val n = items.size.toLong
      val cand = HeavyHitters.mgCandidates(df, "item", k).toSet
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = n / (k + 1L)
      val mustHave = exact.filter(_._2 > bound).keySet
      val superset = mustHave.subsetOf(cand)
      val minCount = bound + 1L
      val got = HeavyHitters.frequentItems(df, "item", k, minCount)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      superset && got == exact.filter(_._2 >= minCount)
    }
    check(p, 12)
  }

  test("sessionize matches a sequential fold over each user's timeline") {
    val gap = 100L
    val p = Prop.forAll(Gen.listOfN(60, for {
      u <- Gen.chooseNum(0, 4)
      t <- Gen.chooseNum(0L, 2000L)
    } yield (u, t))) { raw =>
      val ev = raw.zipWithIndex.map { case ((u, t), i) => (u.toLong, t, i.toLong) }
      val got = Sessionize.assign(ev.toDF("user_id", "us", "event_id"),
          "user_id", "us", "event_id", gap)
        .select(col("user_id"), col("us"), col("event_id"), col("session_idx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      // reference: walk each user's (us, event_id)-sorted events
      val want = ev.groupBy(_._1).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        var idx = 0L
        var prev = Long.MinValue
        sorted.map { e =>
          if (prev == Long.MinValue || e._2 - prev > gap) idx += 1
          prev = e._2
          (e._1, e._2, e._3) -> idx
        }
      }.toMap
      got == want
    }
    check(p, 12)
  }

  test("triangle count matches brute-force enumeration") {
    val p = Prop.forAll(Gen.listOfN(50, for {
      a <- Gen.chooseNum(0, 11); b <- Gen.chooseNum(0, 11)
    } yield (a.toLong, b.toLong))) { raw =>
      val df = Triangles.census(raw.toDF("src", "dst"), "src", "dst")
        .collect()(0)
      val e = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = e.flatMap(p => Set(p._1, p._2))
      val tris = (for {
        a <- nodes; b <- nodes if a < b; c <- nodes if b < c
        if e((a, b)) && e((a, c)) && e((b, c))
      } yield (a, b, c)).size
      df.getLong(0) == nodes.size.toLong &&
        df.getLong(1) == e.size.toLong && df.getLong(2) == tris.toLong
    }
    check(p, 12)
  }

  test("SCD2 version build matches a sequential per-user fold") {
    // random per-user attribute streams with heavy ties/repeats
    val p = Prop.forAll(Gen.listOfN(60, for {
      u <- Gen.chooseNum(0, 3)
      t <- Gen.chooseNum(0L, 50L)
      a <- Gen.oneOf("x", "y", "z")
    } yield (u, t, a))) { raw =>
      val high = 999999L
      val ev = raw.zipWithIndex.map { case ((u, t, a), i) =>
        (u.toLong, i.toLong, t, a) }
      val df = ev.toDF("user_id", "event_id", "us", "event_type")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val got = df.withColumn("__p", lag(col("event_type"), 1).over(w))
        .filter(col("__p").isNull || col("__p") =!= col("event_type"))
        .withColumn("version_no", row_number().over(w).cast("long"))
        .withColumn("valid_to", coalesce(lead(col("us"), 1).over(w), lit(high)))
        .select(col("user_id"), col("version_no"), col("event_type"),
          col("us"), col("valid_to"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = ev.groupBy(_._1).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._2))
        val changes = sorted.foldLeft(List.empty[(Long, Long, Long, String)]) {
          case (acc, e) =>
            if (acc.headOption.exists(_._4 == e._4)) acc
            else (e._1, e._2, e._3, e._4) :: acc
        }.reverse
        changes.zipWithIndex.map { case (c, i) =>
          val to = changes.lift(i + 1).map(_._3).getOrElse(high)
          (c._1, (i + 1).toLong, c._4, c._3, to)
        }
      }.toSet
      got == want
    }
    check(p, 12)
  }

  test("keepBestFromLabels elects highest score, ties to smallest id") {
    // cluster {1,3,5}: 5 has top score; cluster {7,8}: tie -> 7 wins;
    // singletons 0,2,4,6,9 keep themselves
    val docs = Seq(0L -> 0.1, 1L -> 0.2, 2L -> 0.3, 3L -> 0.9, 4L -> 0.4,
      5L -> 0.95, 6L -> 0.5, 7L -> 0.7, 8L -> 0.7, 9L -> 0.6)
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 3L), (3L, 5L), (7L, 8L)).toDF("id1", "id2")
    val got = ConnectedComponents.keepBestFromLabels(docs, "doc_id", "score",
        ConnectedComponents.labels(pairs, "id1", "id2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got === Map(
      0L -> ((0L, true)), 1L -> ((1L, false)), 2L -> ((2L, true)),
      3L -> ((1L, false)), 4L -> ((4L, true)), 5L -> ((1L, true)),
      6L -> ((6L, true)), 7L -> ((7L, true)), 8L -> ((7L, false)),
      9L -> ((9L, true))))
  }

  test("sequence packing: offsets are the exact prefix sums, spans tile the stream") {
    val gen = Gen.listOfN(40, Gen.chooseNum(0L, 900L))
    check(Prop.forAllNoShrink(gen) { counts =>
      val docs = counts.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("doc_id", "n_tokens")
      val got = SequencePacking.packByBudget(docs, "n_tokens",
          Seq(col("doc_id")), budget = 512L)
        .select("doc_id", "n_tokens", "start_offset", "first_seq", "last_seq")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      val nonEmpty = counts.zipWithIndex.filter(_._1 > 0)
      val offsets = nonEmpty.map(_._1).scanLeft(0L)(_ + _)
      got.length == nonEmpty.length && got.zip(nonEmpty.zip(offsets)).forall {
        case ((id, n, off, fs, ls), ((cn, ci), coff)) =>
          id == ci.toLong && n == cn && off == coff &&
            fs == off / 512 && ls == (off + n - 1) / 512
      }
    }, 6)
  }

  test("decontamination flags planted copies and clears unrelated docs") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // exact copy
      (2L, "fox jumps over the lazy dog tonight"),          // heavy overlap
      (3L, "completely different words entirely here now")) // clean
      .toDF("doc_id", "text")
    val got = Decontamination.contaminationStats(corpus, bench,
        "doc_id", "text", k = 3, threshold = 0.5)
      .select("id", "is_contaminated").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 0L)
  }

  test("PPJoin prefix tier equals brute-force Jaccard on random corpora") {
    // random word-salad docs with planted overlaps (shared word pool)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docGen = Gen.listOfN(8, Gen.oneOf(pool)).map(_.mkString(" "))
    val corpusGen = Gen.listOfN(25, docGen)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAllNoShrink(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select("id1", "id2").as[(Long, Long)].collect().sorted.toSeq
      canon(TextDedup.jaccardPairsPrefix(df, "doc_id", "text",
          k = 2, threshold = 0.4)) ==
        canon(TextDedup.jaccardPairs(df, "doc_id", "text",
          k = 2, threshold = 0.4, maxShingleDocFreq = Long.MaxValue))
    }, 6)
  }

  test("substring spans equal a sequential reference on random corpora") {
    val pool = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.choose(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(20, docGen)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val w = 3
    check(Prop.forAllNoShrink(corpusGen) { docs =>
      // sequential reference: count every w-gram globally, merge the
      // duplicated start intervals per doc
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").toVector }
      val grams = toks.flatMap { case (id, ts) =>
        (0 to ts.length - w).map(i => (id, i, ts.slice(i, i + w).mkString(" "))) }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = toks.map { case (id, ts) =>
        val starts = grams.filter(g => g._1 == id && counts(g._3) >= 2)
          .map(_._2).sorted
        val covered = starts.foldLeft((0L, -1)) { case ((acc, prev), s) =>
          (acc + math.min(w, if (prev < 0) w else s - prev), s) }._1
        (id, ts.length.toLong, starts.size.toLong, covered)
      }.toSet
      val got = SubstringDedup.duplicatedSpanStats(
          docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      got == expected
    }, 6)
  }

  test("exactQuantiles is bit-identical to the percentile built-in") {
    val valGen: Gen[Double] = Gen.chooseNum(-1000, 1000).map(_ / 7.0)
    val grpRowGen: Gen[(Option[String], Double)] = for {
      g <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None) // null group too
      v <- valGen
    } yield (g, v)
    // group sizes 1..40 across draws; duplicate values likely
    val dataGen = Gen.chooseNum(3, 40).flatMap(n => Gen.listOfN(n, grpRowGen))
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    check(Prop.forAllNoShrink(dataGen) { data =>
      val df = data.toDF("g", "v")
      val got = Quantiles.exactQuantiles(df, Seq("g"), "v", qs)
        .collect().map(r => (Option(r.getString(0)), r.getDouble(1)) -> r.getDouble(2)).toMap
      val expected = df.groupBy("g").agg(
          expr(s"percentile(v, array(${qs.mkString(",")}))").as("p"))
        .collect().flatMap { r =>
          r.getSeq[Double](1).zip(qs).map { case (p, q) => (Option(r.getString(0)), q) -> p }
        }.toMap
      // bit-identical, not approximately equal — including the NULL group
      got == expected
    }, 8)
  }

  test("native ShinglesExpr equals a sequential sliding-window reference") {
    val tokListGen: Gen[List[String]] = for {
      n <- Gen.chooseNum(0, 12)
      ts <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(4).mkString))
    } yield ts
    val corpusGen = Gen.listOfN(12, tokListGen)
    check(Prop.forAllNoShrink(corpusGen, Gen.chooseNum(1, 5)) { (corpus, k) =>
      val df = corpus.zipWithIndex.map { case (ts, i) => (i, ts) }.toDF("id", "toks")
      val got = df.select(col("id"),
          graft.functions.TextShingles.shingles(col("toks"), k).as("sh"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
      val expected = corpus.zipWithIndex.map { case (ts, i) =>
        i -> (if (ts.length <= k) List(ts.mkString(" "))
              else ts.sliding(k).map(_.mkString(" ")).toList)
      }.toMap
      got == expected
    }, 8)
  }

  test("CSV structure pass and reader agree on quoted rows in any dialect") {
    // fields may contain the separator, the quote, spaces — the writer
    // quotes every field and doubles/escapes embedded quotes. The reader
    // must recover each row's fields, and on a two-line file the
    // structure pass must accept the second line exactly when the
    // reader gives it the first line's field count
    val fieldGen = Gen.listOfN(6,
      Gen.oneOf(Gen.const(';'), Gen.const(','), Gen.const('"'), Gen.const('\''),
        Gen.const(' '), Gen.alphaNumChar)).map(_.mkString)
    val rowGen = for {
      n <- Gen.chooseNum(1, 6)
      fs <- Gen.listOfN(n, fieldGen)
    } yield fs
    val pairGen = for {
      first <- rowGen
      second <- Gen.oneOf(Gen.listOfN(first.size, fieldGen), rowGen)
    } yield (first, second)
    val dialects = Seq((';', '"', '"'), (',', '"', '\\'), (';', '\'', '\''))
    val dir = java.nio.file.Files.createTempDirectory("csv-structure-prop").toFile
    var files = 0
    try check(Prop.forAllNoShrink(pairGen, Gen.oneOf(dialects)) { case ((first, second), d) =>
      val (sep, quote, esc) = d
      def line(fields: List[String]) = fields.map { f =>
        val body =
          if (esc == quote) f.replace(quote.toString, s"$quote$quote")
          else f.replace(quote.toString, s"$esc$quote")
        s"$quote$body$quote"
      }.mkString(sep.toString)
      val o = CsvSource.CsvOptions(separator = sep.toString,
        quote = quote.toString, escape = esc.toString, header = false)
      def file(lines: List[String]*) = {
        files += 1
        val f = new java.io.File(dir, s"rows$files.csv")
        java.nio.file.Files.write(f.toPath,
          lines.map(line(_) + "\n").mkString.getBytes("UTF-8"))
        f.getPath
      }
      // the reader's fields of a one-line file (an empty field reads null)
      def read(fields: List[String]) = CsvSource.read(spark, file(fields), o)
        .collect().head.toSeq.map(v => Option(v).fold("")(_.toString)).toList
      val accepted =
        try {
          CsvSource.validateStructure(spark, file(first, second), o,
            allowUnderfilled = false, removeSurplusEmpty = false)
          true
        } catch { case _: CsvSource.CsvStructureException => false }
      val (got1, got2) = (read(first), read(second))
      got1 == first && got2 == second && accepted == (got1.size == got2.size)
    }, 30)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("distributed BPE equals a sequential in-memory reference") {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.take(5).mkString)
    val corpusGen = for {
      n <- Gen.chooseNum(1, 10)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    check(Prop.forAllNoShrink(corpusGen, Gen.chooseNum(1, 4)) { (text, merges) =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val got = BpeTrainer.train(df, "text", merges)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toList
      // sequential reference: greedy most-frequent adjacent pair, ties
      // on lexicographically smallest (a, b), left-to-right remerge
      var wf: Map[List[String], Long] = text.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w.map(_.toString).toList -> ws.length.toLong }
      val expected = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      var done = false
      for (i <- 1 to merges if !done) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, cnt) <- wf; p <- syms.zip(syms.drop(1)))
          pairs(p) = pairs.getOrElse(p, 0L) + cnt
        if (pairs.isEmpty) done = true
        else {
          val ((a, b), freq) = pairs.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
          expected += ((i, a, b, freq))
          wf = wf.toSeq.map { case (syms, cnt) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            out.toList -> cnt
          }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        }
      }
      got == expected.toList
    }, 12)
  }

  // random event streams for the two window operators most sensitive to
  // tie-break order: few users, a tight ts range (collisions likely, so
  // the tie column actually decides), a unique tie ordinal per row
  private val streamGen: Gen[List[(Int, Long, Long, String)]] =
    Gen.listOfN(40, for {
      u <- Gen.chooseNum(0, 3)
      ts <- Gen.chooseNum(0L, 50L)
      a <- Gen.oneOf("x", "y", "z")
    } yield (u, ts, a)).map(_.zipWithIndex.map { case ((u, ts, a), i) =>
      (u, ts, i.toLong, a)
    })

  test("sessions equals a per-user in-memory fold of the gap rule") {
    val gap = 5L
    check(Prop.forAllNoShrink(streamGen) { data =>
      val df = data.toDF("user_id", "ts", "tie", "attr")
      val got = Sessionize.sessions(df, "user_id", "ts", "tie", gap)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val expected = data.groupBy(_._1).flatMap { case (u, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        // fold: session index bumps when the inactivity gap is exceeded
        val idx = sorted.foldLeft(List.empty[(Long, Long)]) { case (acc, r) =>
          val i = acc.headOption match {
            case Some((prevTs, prevIdx)) =>
              if (r._2 - prevTs <= gap) prevIdx else prevIdx + 1
            case None => 1L
          }
          (r._2, i) :: acc
        }.reverse.map(_._2)
        sorted.zip(idx).groupBy(_._2).map { case (i, ss) =>
          val ts = ss.map(_._1._2)
          (u, i, ss.size.toLong, ts.min, ts.max, ts.max - ts.min)
        }
      }.toSet
      got == expected
    }, 10)
  }

  test("label propagation equals an in-memory synchronous simulation") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(25, for {
        a <- Gen.chooseNum(0L, 11L)
        b <- Gen.chooseNum(0L, 11L) if a != b
      } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    check(Prop.forAllNoShrink(edgeGen) { edges =>
      edges.isEmpty || {
        val df = edges.toDF("src", "dst")
        val got = LabelPropagation.communities(df, "src", "dst", rounds = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: synchronous rounds, most-frequent neighbor label,
        // ties to the smallest label
        val adj = (edges ++ edges.map(_.swap)).distinct
          .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
        var lab = adj.keys.map(n => n -> n).toMap
        for (_ <- 1 to 4) lab = adj.map { case (n, nbrs) =>
          val counts = nbrs.groupBy(lab).map { case (l, xs) => l -> xs.size }
          n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
        got == lab
      }
    }, 10)
  }

  private val valueStreamGen: Gen[List[(Int, Long, Long, Long)]] =
    Gen.listOfN(30, for {
      u <- Gen.chooseNum(0, 2)
      ts <- Gen.chooseNum(0L, 40L)
      v <- Gen.chooseNum(-500L, 500L)
    } yield (u, ts, v)).map(_.zipWithIndex.map { case ((u, ts, v), i) =>
      (u, ts, i.toLong, v)
    })

  test("rolling anomaly equals a brute-force trailing-window scan") {
    check(Prop.forAllNoShrink(valueStreamGen) { data =>
      val df = data.toDF("user_id", "ts", "tie", "vc")
      val got = RollingAnomaly.anomalies(df, "user_id", "ts", "tie", "vc")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val expected = data.groupBy(_._1).flatMap { case (u, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        sorted.indices.flatMap { i =>
          val win = sorted.slice(math.max(0, i - 8), i).map(_._4)
          val n = win.size.toLong
          val (s, q) = (win.sum, win.map(x => x * x).sum)
          val v = sorted(i)._4
          if (n >= 4 && (n * v - s) * (n * v - s) > 9 * (n * q - s * s))
            Some((u, sorted(i)._2, sorted(i)._3))
          else None
        }
      }.toSet
      got == expected
    }, 10)
  }

  test("changepoint equals a brute-force prefix argmax") {
    check(Prop.forAllNoShrink(valueStreamGen) { data =>
      val df = data.toDF("user_id", "ts", "tie", "vc")
      val got = Changepoint.cusumPeak(df, "user_id", "ts", "tie", "vc")
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val expected = data.groupBy(_._1).flatMap { case (u, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        val nTot = sorted.size.toLong
        val sTot = sorted.map(_._4).sum
        if (nTot < 2) None
        else {
          val stats = sorted.inits.toSeq.reverse.tail.init // proper prefixes
            .map { p =>
              val k = p.size.toLong
              (p.last, k, math.abs(nTot * p.map(_._4).sum - k * sTot))
            }
          // argmax, ties to earliest (ts, tie)
          val best = stats.maxBy { case (last, _, ac) =>
            (ac, -last._2, -last._3)
          }
          Some(u -> ((best._1._3, best._2, best._3)))
        }
      }
      got == expected
    }, 10)
  }

  test("scd2 versions equal a per-key in-memory run-length collapse") {
    val high = 999L
    check(Prop.forAllNoShrink(streamGen) { data =>
      val df = data.toDF("user_id", "ts", "tie", "attr")
      val got = Scd2.versions(df, "user_id", "ts", "tie", "attr", high)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4))).toSet
      val expected = data.groupBy(_._1).flatMap { case (u, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        // collapse consecutive equal attrs into runs, keep each run's
        // first ts; close each interval at the next run's start
        val runs = sorted.foldLeft(List.empty[(String, Long)]) {
          case (acc, r) =>
            if (acc.headOption.exists(_._1 == r._4)) acc
            else (r._4, r._2) :: acc
        }.reverse
        runs.zipWithIndex.map { case ((attr, from), i) =>
          val to = if (i + 1 < runs.size) runs(i + 1)._2 else high
          (u, (i + 1).toLong, attr, from, to)
        }
      }.toSet
      got == expected
    }, 10)
  }

  test("bitemporal as-of: corrections supersede only once recorded") {
    // key 1: version A valid [0, 100), corrected at txn 50 to A';
    //        version B valid [100, 999) recorded at 100.
    // key 2: one version valid [0, 999) recorded at 0, corrected at 200.
    val bt = Seq(
      (1L, 0L, 100L, 0L, "A"), (1L, 0L, 100L, 50L, "A_corr"),
      (1L, 100L, 999L, 100L, "B"),
      (2L, 0L, 999L, 0L, "C"), (2L, 0L, 999L, 200L, "C_corr"))
      .toDF("k", "vf", "vt", "txn", "attr")
    def q(v: Long, t: Long) = Scd2.bitemporalAsOf(bt, "k", "vf", "vt",
        "txn", Seq("attr"), lit(v), lit(t))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    // valid 10, known 10: corrections not yet recorded
    assert(q(10L, 10L) === Map(1L -> "A", 2L -> "C"))
    // valid 10, known 60: key 1's correction visible, key 2's not
    assert(q(10L, 60L) === Map(1L -> "A_corr", 2L -> "C"))
    // valid 150, known 300: key 1 moved to B; key 2 correction visible
    assert(q(150L, 300L) === Map(1L -> "B", 2L -> "C_corr"))
    // valid-interval end is EXCLUSIVE: v=100 selects B, not A
    assert(q(100L, 300L)(1L) === "B")
    // known-at before anything recorded for key 1's interval: absent
    assert(!q(150L, 50L).contains(1L))
  }

  test("k-core fixpoint equals in-memory peeling on random graphs") {
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L))
    val graphGen = Gen.zip(Gen.listOfN(40, edgeGen), Gen.chooseNum(2, 4))
    check(Prop.forAllNoShrink(graphGen) { case (edges, k) =>
      // 64 rounds exceed the peel depth of any 21-node graph
      val got = KCore.peelRounds(edges.toDF("a", "b"), "a", "b", k, rounds = 64)
        .as[(Long, Long)].collect().toMap
      // reference: iterate deletion over an adjacency-set model
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      edges.foreach { case (a, b) =>
        if (a != b) {
          adj(a) = adj.getOrElse(a, Set.empty) + b
          adj(b) = adj.getOrElse(b, Set.empty) + a
        }
      }
      var changed = true
      while (changed) {
        val bad = adj.collect { case (n, nb) if nb.size < k => n }.toSet
        changed = bad.nonEmpty
        bad.foreach { n => adj.remove(n) }
        adj.keys.toList.foreach(n => adj(n) = adj(n) -- bad)
      }
      got == adj.map { case (n, nb) => n -> nb.size.toLong }.toMap
    }, 8)
  }

  test("k-core peelRounds is idempotent past convergence") {
    // 4-clique + pendant chain: the chain peels off in 2 rounds
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val fix = Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
    assert(rows(KCore.peelRounds(edges, "a", "b", k = 3, rounds = 2)) === fix)
    assert(rows(KCore.peelRounds(edges, "a", "b", k = 3, rounds = 9)) === fix)
    // zero rounds = raw degrees
    assert(rows(KCore.peelRounds(edges, "a", "b", k = 3, rounds = 0)) ===
      Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 4L), (5L, 2L), (6L, 1L)))
  }

  test("HLL registers: merge-by-max equals registers of the union; " +
    "estimate tracks truth") {
    val p = 6
    val all = spark.range(0, 3000)
      .select((col("id") % 2).cast("string").as("g"),
        concat(lit("t"), (col("id") * 13 % 1409).cast("string")).as("w"))
    val a = all.filter(col("id") % 3 === 0)
    val b = all.filter(col("id") % 3 =!= 0)
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, Seq("g"), "w", p)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val whole = regs(all)
    val ra = regs(a); val rb = regs(b)
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0L), rb.getOrElse(k, 0L))).toMap
    assert(merged === whole)
    // estimate within HLL's expected error envelope (1.04/sqrt(64) ≈ 13%;
    // deterministic fixture, generous 3σ bound)
    val est = Sketches.hllEstimate(
        Sketches.hllRegisters(all, Seq("g"), "w", p), Seq("g"), p)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val truth = all.distinct().groupBy("g").agg(countDistinct("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) / n < 0.4, s"g=$g est=${est(g)} n=$n") }
    // small range exercises the linear-counting branch and stays close
    val tiny = (0 until 12).map(i => ("x", s"v$i")).toDF("g", "w")
    val e2 = Sketches.hllEstimate(
        Sketches.hllRegisters(tiny, Seq("g"), "w", p), Seq("g"), p)
      .collect().head
    assert(e2.getLong(1) > 0L) // zeros present → LC branch
    assert(math.abs(e2.getDouble(3) - 12.0) < 4.0)
  }

  test("funnel stage counts equal an in-memory per-user scan") {
    val evGen = Gen.listOfN(60, for {
      u <- Gen.chooseNum(1L, 8L)
      t <- Gen.oneOf("view", "click", "purchase", "other")
      ts <- Gen.chooseNum(0L, 40L)
    } yield (u, t, ts))
    val stages = Seq("view", "click", "purchase")
    check(Prop.forAllNoShrink(evGen) { evs =>
      // dedup (u,ts) so the strict-> semantics aren't tie-dependent
      val clean = evs.groupBy(e => (e._1, e._3)).map(_._2.head).toList
      val got = Funnel.stageCounts(clean.toDF("u", "t", "ts"),
          "u", "t", "ts", stages)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val expected = stages.indices.map { i =>
        i -> clean.groupBy(_._1).count { case (_, rows) =>
          val sorted = rows.sortBy(_._3)
          // walk stages left to right, each must appear strictly later
          var last = Long.MinValue
          stages.take(i + 1).forall { st =>
            sorted.find(e => e._2 == st && e._3 > last) match {
              case Some(e) => last = e._3; true
              case None => false
            }
          }
        }.toLong
      }.toMap
      got == expected
    }, 8)
  }

  test("TWA equals an in-memory fold on random streams") {
    val gen = Gen.listOfN(40, for {
      k <- Gen.chooseNum(1L, 5L)
      ts <- Gen.chooseNum(0L, 500L)
      v <- Gen.chooseNum(0, 9999).map(_ / 100.0)
    } yield (k, ts, v))
    check(Prop.forAllNoShrink(gen) { rows0 =>
      val rows = rows0.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val got = TimeWeighted.twa(rows.toDF("k", "us", "v"), "k", "us", "v")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
      val expected = rows.groupBy(_._1).collect {
        case (k, es) if es.size >= 2 =>
          val s = es.sortBy(_._2)
          val durs = s.zip(s.tail).map { case (a, b) => (b._2 - a._2, a._3) }
          val span = durs.map(_._1).sum
          val num = durs.map { case (d, v) => BigDecimal(v).setScale(2,
            BigDecimal.RoundingMode.HALF_UP) * d }.sum
          k -> ((s.size.toLong, span,
            BigDecimal(num.toDouble / span.toDouble).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      got.keySet == expected.keySet && got.keySet.forall { k =>
        got(k)._1 == expected(k)._1 && got(k)._2 == expected(k)._2 &&
          math.abs(got(k)._3 - expected(k)._3) < 1e-9
      }
    }, 8)
  }

  test("CMS sketch: point estimates never undercount; exact when no collision") {
    val toks = spark.range(0, 2000)
      .select(concat(lit("w"), (col("id") % 97).cast("string")).as("w"))
    val sketch = Sketches.cmsSketch(toks, "w", depth = 4, width = 256)
    val probes = toks.distinct()
    val est = Sketches.cmsQuery(sketch, probes, "w", depth = 4, width = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (w, n) =>
      assert(est(w) >= n, s"$w undercounted: ${est(w)} < $n") }
    // unseen probe can only report collision mass, never negative
    val phantom = Seq("never-seen-token").toDF("w")
    val e0 = Sketches.cmsQuery(sketch, phantom, "w", 4, 256).collect().head
    assert(e0.getLong(1) >= 0L)
  }

  test("2-D skyline: dominance, duplicate frontier points, cross-level ties") {
    // points (id, maxDim q, minDim t): frontier should be
    //   (1) q=3,t=10  (best q)
    //   (2) q=2,t=5   (shorter than anything better)
    //   and its exact duplicate (6) — equal points don't dominate.
    // Dominated: (3) q=2,t=8 (within-level), (4) q=1,t=10 (worse both),
    // (5) q=1,t=5 cross-level TIE on t with (2): q=2 dominates strictly.
    // (7) has NULL t -> excluded.
    val pts = Seq(
      (1L, 3.0, Option(10L)), (2L, 2.0, Option(5L)), (3L, 2.0, Option(8L)),
      (4L, 1.0, Option(10L)), (5L, 1.0, Option(5L)), (6L, 2.0, Option(5L)),
      (7L, 9.0, None: Option[Long])).toDF("id", "q", "t")
    val got = Skyline.pareto2d(pts, "q", "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 6L))
    // distributivity: skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B))
    // — the property that makes the per-partition-then-merge plan valid
    val a = pts.filter(col("id") % 2 === 0)
    val b = pts.filter(col("id") % 2 =!= 0)
    val merged = Skyline.pareto2d(
      Skyline.pareto2d(a, "q", "t").unionByName(Skyline.pareto2d(b, "q", "t")),
      "q", "t").select("id").collect().map(_.getLong(0)).toSet
    assert(merged === got)
  }

  test("t-closeness: hand-computed EMD and TV distances") {
    // rows: class A = {1, 2, 3}, class B = {1, 3}
    // global: 1×2, 2×1, 3×2; N = 5, m = 3
    // B (n=2): d = (1·5−2·2, 0·5−1·2, 1·5−2·2) = (1, −2, 1),
    //   cum = (1, −1, 0) → emd = 2/(5·2·2) = 0.1; tv = 4/20 = 0.2
    // A (n=3): d = (−1, 2, −1), cum = (−1, 1, 0)
    //   → emd = 2/(5·3·2) ≈ 0.066667; tv = 4/30 ≈ 0.133333
    val rows = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 1L), ("B", 3L))
      .toDF("cls", "v")
    val got = Anonymity.tClosenessProfile(rows, Seq("cls"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("A") === ((3L, 0.066667, 0.133333)))
    assert(got("B") === ((2L, 0.1, 0.2)))
    // a class that IS the table has distance exactly 0 on both metrics
    val one = Anonymity.tClosenessProfile(
      rows.withColumn("cls", lit("all")), Seq("cls"), "v").collect()
    assert(one.length === 1 && one.head.getDouble(2) === 0.0 &&
      one.head.getDouble(3) === 0.0)
    // a NULL quasi class must keep its real counts (null-safe join):
    // class NULL here has the SAME distribution as class "A", so their
    // distances must be equal (and not the all-zero-counts artifact)
    val withNull = Seq((Option("A"), 1L), (Option("A"), 2L),
      (None: Option[String], 1L), (None: Option[String], 2L))
      .toDF("cls", "v")
    val gn = Anonymity.tClosenessProfile(withNull, Seq("cls"), "v")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(gn(Some("A")) === ((0.0, 0.0)) && gn(None) === ((0.0, 0.0)))
    // single-value sensitive domain: every class is at distance 0 on
    // BOTH metrics (not NaN from the (m-1) normalizer)
    val mono = Anonymity.tClosenessProfile(
      rows.withColumn("v", lit(7L)), Seq("cls"), "v").collect()
    assert(mono.forall(r => r.getDouble(2) === 0.0 && r.getDouble(3) === 0.0))
  }

  test("interval overlap join: half-open semantics, exactly-once across bands") {
    // key 1: L [0, 10) × R: [5, 7) nested → hit; [10, 20) touching at
    // the boundary → NO hit (half-open); [9, 30) long straddler → hit
    // once even though it spans many bands at width 3
    val l = Seq((1L, 0L, 10L, "a"), (1L, 40L, 45L, "b"),
      (2L, 0L, 100L, "c")).toDF("k", "ls", "le", "lid")
    val r = Seq((1L, 5L, 7L, "x"), (1L, 10L, 20L, "y"),
      (1L, 9L, 30L, "z"), (3L, 0L, 100L, "w")).toDF("k", "rs", "re", "rid")
    def run(w: Long) = TemporalJoins.intervalOverlapJoin(
        l, r, Seq("k"), "ls", "le", "rs", "re", bandWidth = w)
      .select("lid", "rid").collect().map(x => (x.getString(0), x.getString(1)))
      .sorted.toSeq
    val expect = Seq(("a", "x"), ("a", "z"))
    // band width must be result-invisible: tiny, matched, huge
    assert(run(1L) === expect)
    assert(run(3L) === expect)
    assert(run(1000L) === expect)
    // empty interval never matches even when contained
    val le = Seq((1L, 6L, 6L, "e")).toDF("k", "ls", "le", "lid")
    assert(TemporalJoins.intervalOverlapJoin(le, r, Seq("k"),
      "ls", "le", "rs", "re", 3L).count() === 0L)
  }

  test("calibration bins: hand-computed ppm stats and Brier mass") {
    // scores (ppm): 50000→bin 0, 250000→bin 2, 999999→bin 9,
    // 1000000→bin 9 (top fold); labels 0, 1, 0, 1
    val df = Seq((50000L, 0), (250000L, 1), (999999L, 0), (1000000L, 1))
      .toDF("s", "y")
    val got = Calibration.reliabilityBins(df, col("s"), col("y"), bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(0L, 2L, 9L))
    val b0 = got(0L)
    assert(b0.getLong(1) === 1L && b0.getLong(2) === 0L &&
      b0.getLong(3) === 50000L && b0.getLong(4) === 0L &&
      b0.getLong(5) === 50000L &&
      b0.getDecimal(6).longValueExact === 50000L * 50000L)
    val b2 = got(2L) // pred 250000 vs observed 1000000
    assert(b2.getLong(3) === 250000L && b2.getLong(4) === 1000000L &&
      b2.getLong(5) === -750000L &&
      b2.getDecimal(6).longValueExact === 750000L * 750000L)
    val b9 = got(9L) // mean pred (999999+1000000) div 2; obs 1/2
    assert(b9.getLong(1) === 2L && b9.getLong(3) === 999999L &&
      b9.getLong(4) === 500000L &&
      b9.getDecimal(6).longValueExact === 999999L * 999999L + 0L)
  }

  test("RBO: identical lists hit the closed form, disjoint lists score 0, top-heavy") {
    import spark.implicits._
    def ranks(ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
        .toDF("id", "rk")
    val d = 10
    // identical lists: X_d = d, so rbo = (1-p)·Σ w_d/1e6 with the
    // exact ppm weight recurrence mirrored here
    val ws = Iterator.iterate(1000000L)(w => w * 900000L / 1000000L)
      .take(d).toSeq
    val expected = (BigDecimal(ws.sum) / 1000000).toDouble * 0.1
    val same = ranks(1L to 10L)
    val gotSame = RankCompare.rbo(same, ranks(1L to 10L), "id", "rk", d, 900000L)
      .collect().head
    assert(gotSame.getLong(1) === 10L &&
      math.abs(gotSame.getDouble(2) - expected) < 1e-6)
    // disjoint lists: no conjoint pair anywhere
    val gotDisj = RankCompare.rbo(same, ranks(11L to 20L), "id", "rk", d, 900000L)
      .collect().head
    assert(gotDisj.getLong(1) === 0L && gotDisj.getDouble(2) === 0.0)
    // geometric top weighting: disagreeing at rank 1 costs more than
    // disagreeing at rank 10 (same single-element difference)
    def swapAt(pos: Int) =
      ranks((1L to 10L).updated(pos - 1, 99L))
    val topSwap = RankCompare.rbo(same, swapAt(1), "id", "rk", d, 900000L)
      .collect().head.getDouble(2)
    val botSwap = RankCompare.rbo(same, swapAt(10), "id", "rk", d, 900000L)
      .collect().head.getDouble(2)
    assert(topSwap < botSwap && botSwap < gotSame.getDouble(2))
  }

  test("Allen relations: all 13 cases classify correctly on half-open intervals") {
    import spark.implicits._
    val cases = Seq(
      (0L, 10L, 0L, 10L, "equals"),
      (0L, 5L, 5L, 10L, "meets"),
      (5L, 10L, 0L, 5L, "met_by"),
      (0L, 3L, 5L, 10L, "before"),
      (5L, 10L, 0L, 3L, "after"),
      (0L, 5L, 0L, 10L, "starts"),
      (0L, 10L, 0L, 5L, "started_by"),
      (5L, 10L, 0L, 10L, "finishes"),
      (0L, 10L, 5L, 10L, "finished_by"),
      (3L, 7L, 0L, 10L, "during"),
      (0L, 10L, 3L, 7L, "contains"),
      (0L, 6L, 4L, 10L, "overlaps"),
      (4L, 10L, 0L, 6L, "overlapped_by"))
    val got = cases.toDF("ls", "le", "rs", "re", "want")
      .withColumn("got", TemporalJoins.allenRelation(
        col("ls"), col("le"), col("rs"), col("re")))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") === r.getAs[String]("want"),
        s"(${r.getLong(0)},${r.getLong(1)}) vs (${r.getLong(2)},${r.getLong(3)})")
    }
  }

  test("water-filling allocation: exact cap, budget spent, edge budgets") {
    import spark.implicits._
    // sources a:10, b:20, c:100 (rows summed per source)
    val rows = Seq(("a", 4L), ("a", 6L), ("b", 20L), ("c", 100L))
      .toDF("src", "tok")
    def alloc(b: Long) = Sampling.waterFillAllocation(rows, "src", "tok", b)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // B = 60: a,b fully funded; cap = (60 − 30) div 1 = 30 on c
    val g60 = alloc(60L)
    assert(g60("a") === ((10L, 10L, false)) &&
      g60("b") === ((20L, 20L, false)) &&
      g60("c") === ((100L, 30L, true)))
    // B = 25 < 3·T_min: nothing fully funded, cap = 25 div 3 = 8
    val g25 = alloc(25L)
    assert(g25("a") === ((10L, 8L, true)) &&
      g25("b") === ((20L, 8L, true)) && g25("c") === ((100L, 8L, true)))
    // B covers everything: no caps
    val gAll = alloc(200L)
    assert(gAll.values.forall { case (t, a, c) => a === t && !c })
    // B = 0: zero allocations
    assert(alloc(0L).values.forall(_._2 === 0L))
    // invariant: the spend never exceeds the budget
    Seq(0L, 1L, 25L, 29L, 60L, 129L, 130L, 500L).foreach { b =>
      assert(alloc(b).values.map(_._2).sum <= b)
    }
  }

  test("priority-sample estimate: exact below k, k-bounded sample above") {
    import spark.implicits._
    // n = 5 <= k = 8: tau = 0, every term is its own weight -> the
    // estimate IS the exact total
    val small = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 1L), (5L, 64L))
      .toDF("id", "w")
    val ex = Sampling.prioritySampleEstimate(small, "id", "w", k = 8)
      .collect().head
    assert(ex.getLong(0) === 5L && ex.getLong(1) === 5L &&
      ex.getDecimal(2).longValueExact === 100L && ex.getDouble(3) === 100.0)
    // n = 200 > k = 16: sample is exactly k, the estimate is positive,
    // and a re-run is bit-identical (hash priorities, no RNG)
    val big = spark.range(1, 201)
      .select(col("id"), (col("id") % 13 + 1).as("w"))
    def run() = Sampling.prioritySampleEstimate(big, "id", "w", k = 16)
      .collect().head
    val a = run(); val b = run()
    assert(a.getLong(0) === 200L && a.getLong(1) === 16L)
    assert(a.getDouble(3) === b.getDouble(3) && a.getDouble(3) > 0.0)
    // the estimator never undershoots the sampled mass itself
    assert(a.getDouble(3) >= 16.0)
  }

  test("histogram rollup: added bin counts equal a direct coarse build") {
    val vals = spark.range(0, 3000)
      .select((col("id") % 7).cast("string").as("g"),
        (col("id") * 37 % 1000).as("v"))
    val fine = vals.groupBy(col("g"), expr("v DIV 50L").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val rolled = Sketches.histRollup(fine, Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Sketches.histSketch(vals, "v", binWidth = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rolled === direct)
    // and the quantile read-off over the rollup equals the direct one
    val qs = Seq(500000L, 990000L)
    val qRolled = Sketches.histQuantiles(
      Sketches.histRollup(fine, Seq.empty), 50L, qs)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSet
    val qDirect = Sketches.histQuantiles(
      Sketches.histSketch(vals, "v", 50L), 50L, qs)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSet
    assert(qRolled === qDirect)
  }

  test("HLL rollup: max-merged registers equal a direct coarse build") {
    val vals = spark.range(0, 500)
      .select((col("id") % 5).cast("string").as("g"),
        (col("id") % 3).cast("string").as("sub"),
        concat(lit("u"), (col("id") % 97).cast("string")).as("v"))
    val fine = Sketches.hllRegisters(vals, Seq("g", "sub"), "v", p = 6)
    val rolled = Sketches.hllRollup(fine, Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Sketches.hllRegisters(vals, Seq("g"), "v", p = 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rolled === direct)
  }

  test("CMS inner product: exact join size without collisions, never under") {
    // a: {x:2, y:1}; b: {x:3, z:5} — true join size on the key = 2*3 = 6.
    // 3 distinct values in 4×256 cells: at least one row collision-free,
    // so the min-over-rows estimate is exactly 6.
    val a = Seq("x", "x", "y").toDF("w")
    val b = Seq("x", "x", "x", "z", "z", "z", "z", "z").toDF("w")
    val est = Sketches.cmsInnerProduct(
      Sketches.cmsSketch(a, "w", 4, 256), Sketches.cmsSketch(b, "w", 4, 256),
      depth = 4).collect().head.getLong(0)
    assert(est === 6L)
    // disjoint sides with a TINY width (forced collisions): still >= 0,
    // and the self-join estimate of a stays >= its true F2 (4+1 = 5)
    val self = Sketches.cmsInnerProduct(
      Sketches.cmsSketch(a, "w", 4, 2), Sketches.cmsSketch(a, "w", 4, 2),
      depth = 4).collect().head.getLong(0)
    assert(self >= 5L)
    // empty side: every row dots to 0 -> estimate 0
    val empty = a.filter(col("w") === "nope")
    val z = Sketches.cmsInnerProduct(
      Sketches.cmsSketch(a, "w", 4, 256),
      Sketches.cmsSketch(empty, "w", 4, 256), depth = 4)
      .collect().head.getLong(0)
    assert(z === 0L)
  }

  test("CMS sketch merges by cell-wise addition") {
    val all = spark.range(0, 1200)
      .select(concat(lit("t"), (col("id") % 53).cast("string")).as("w"))
    val a = all.filter(col("id") % 2 === 0)
    val b = all.filter(col("id") % 2 =!= 0)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(Sketches.cmsSketch(all, "w", 4, 64))
    val ca = cells(Sketches.cmsSketch(a, "w", 4, 64))
    val cb = cells(Sketches.cmsSketch(b, "w", 4, 64))
    val merged = (ca.keySet ++ cb.keySet).map(k =>
      k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    assert(merged === whole)
  }

  test("grouped OLS recovers planted lines exactly") {
    // y = 3 + 2x for key 1; y = 10 - 0.5x for key 2; key 3 vertical
    // (one x) drops; key 4 single point drops
    val rows =
      (0 until 5).map(x => (1L, x.toLong, 3.0 + 2.0 * x)) ++
        (0 until 4).map(x => (2L, (x * 2).toLong, 10.0 - 1.0 * x)) ++
        Seq((3L, 7L, 1.0), (3L, 7L, 9.0), (4L, 0L, 5.0))
    val got = Regression.olsPerKey(rows.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((5L, 2.0, 3.0)))
    assert(got(2L) === ((4L, -0.5, 10.0))) // x steps by 2, y by −1
  }

  test("KS two-sample: equals brute-force ECDF sweep on random samples") {
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.chooseNum(0, 20).map(_.toDouble)),
      Gen.listOfN(25, Gen.chooseNum(5, 25).map(_.toDouble)))
      .suchThat { case (a, b) => a.nonEmpty && b.nonEmpty }
    check(Prop.forAllNoShrink(gen) { case (as, bs) =>
      val df = (as.map((_, true)) ++ bs.map((_, false))).toDF("v", "a")
      val r = KsTest.ksTwoSample(df, "v", col("a")).collect().head
      val (na, nb) = (as.size.toLong, bs.size.toLong)
      val values = (as ++ bs).distinct.sorted
      val brute = values.map { v =>
        val ca = as.count(_ <= v).toLong; val cb = bs.count(_ <= v).toLong
        (math.abs(ca * nb - cb * na), v)
      }
      val dmax = brute.map(_._1).max
      val atV = brute.filter(_._1 == dmax).map(_._2).min
      r.getLong(0) == na && r.getLong(1) == nb && r.getLong(2) == dmax &&
        r.getDouble(4) == atV
    }, 10)
  }

  test("Mann-Whitney: hand-computed tied example") {
    // A = {1,2,2}, B = {2,3}: midranks 1, 3, 3, 3, 5
    // R_A = 7, U_A = 7 - 6 = 1; ties: one group of 3 -> tie3 = 24
    val df = Seq((1.0, true), (2.0, true), (2.0, true), (2.0, false),
      (3.0, false)).toDF("v", "a")
    val r = MannWhitney.uTest(df, "v", col("a")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 2L, 2L))) // 2·U_A
    // z = (U - n_a·n_b/2)/sqrt(var): U=1, mu=3, var = (6/12)·(6 − 24/20) = 2.4
    val z = (1.0 - 3.0) / math.sqrt(3.0 * 2.0 / 12.0 * (6.0 - 24.0 / 20.0))
    assert(math.abs(r.getDouble(3) - BigDecimal(z).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("assortativity: star is maximally disassortative, kite positive-ish") {
    // star K1,3: every edge joins deg-3 hub to deg-1 leaf -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r1 = GraphStats.degreeAssortativity(star, "a", "b").collect().head
    assert((r1.getLong(0), r1.getLong(1)) === ((4L, 3L)))
    assert(r1.getDouble(2) === -1.0)
    // cycle: all degrees equal -> zero variance -> NULL (documented)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    assert(GraphStats.degreeAssortativity(cyc, "a", "b").collect().head
      .isNullAt(2))
  }

  test("dHash Hamming multi-index equals brute force at distance <= 3") {
    val edgeGen = Gen.listOfN(24,
      Gen.zip(Gen.chooseNum(0L, 0xFFFFFFFFL), Gen.chooseNum(0L, 0xFFFFFFFFL)))
    check(Prop.forAllNoShrink(edgeGen) { hs =>
      val df = hs.zipWithIndex
        .map { case ((hi, lo), i) => (i.toLong, hi, lo) }
        .toDF("media_id", "hash_hi", "hash_lo")
      val got = Multimodal.nearDupDHashPairs(df, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        ((h1, l1), i) <- hs.zipWithIndex; ((h2, l2), j) <- hs.zipWithIndex
        if i < j
        d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
        if d <= 3
      } yield (i.toLong, j.toLong, d.toLong)).toSet
      got == brute
    }, 6)
  }

  test("quantile normalization: rank-preserving map onto the reference") {
    // 4 rows map onto an 8-row reference: rank r -> ref[ceil(r*8/4)]
    val a = Seq((1L, 10.0), (2L, 50.0), (3L, 20.0), (4L, 90.0)).toDF("id", "v")
    val ref = Seq(100.0, 101.0, 102.0, 103.0, 104.0, 105.0, 106.0, 107.0)
      .toDF("v")
    val got = Quantiles.normalizeToReference(a,
        Seq(col("v").asc, col("id").asc), ref, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // sorted a: 10(id1),20(id3),50(id2),90(id4) -> ranks 1..4 ->
    // targets 2,4,6,8 -> 101,103,105,107
    assert(got === Map(1L -> 101.0, 3L -> 103.0, 2L -> 105.0, 4L -> 107.0))
    // equal sizes: the map is exactly the reference order statistics
    val same = Quantiles.normalizeToReference(a,
        Seq(col("v").asc, col("id").asc),
        Seq(7.0, 5.0, 6.0, 8.0).toDF("v"), "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(same === Map(1L -> 5.0, 3L -> 6.0, 2L -> 7.0, 4L -> 8.0))
  }

  test("histogram sketch: merges by addition; estimates within one bin width") {
    val gen = Gen.listOfN(80, Gen.chooseNum(0L, 5000L))
      .suchThat(_.nonEmpty)
    val width = 100L
    check(Prop.forAllNoShrink(gen) { vs =>
      val df = vs.toDF("v")
      val whole = Sketches.histSketch(df, "v", width)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (a, b) = vs.zipWithIndex.partition(_._2 % 2 == 0)
      def cells(xs: List[Long]) = Sketches.histSketch(xs.toDF("v"), "v", width)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ca = cells(a.map(_._1)); val cb = cells(b.map(_._1))
      val merged = (ca.keySet ++ cb.keySet).map(k =>
        k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
      val ests = Sketches.histQuantiles(
          Sketches.histSketch(df, "v", width), width,
          Seq(250000L, 500000L, 900000L))
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      val sorted = vs.sorted
      val okBound = Seq(250000L, 500000L, 900000L).forall { q =>
        val t = ((vs.size.toLong * q + 999999L) / 1000000L).toInt // ceil rank
        val truth = sorted(t - 1)
        math.abs(ests(q) - truth) <= width
      }
      merged == whole && okBound
    }, 10)
  }

  test("JaroWinkler matches DuckDB's probed values bit-for-bit-ish") {
    import graft.plans.JaroWinklerExpr.similarity
    def jw(a: String, b: String) = similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // literals probed from duckdb jaro_winkler_similarity on 2026-08-13
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),     // transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332),    // prefix 2 boost
      ("jellyfish", "smellyfish", 0.8962962962962964), // no common prefix
      ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("a", "", 0.0), ("", "", 0.0), // empty => 0
      ("duane", "dwayne", 0.8400000000000001),
      ("Customer#000000001", "Customer#000000010", 0.9888888888888889), // prefix cap 4
      ("ab", "ba", 0.0), ("x", "y", 0.0),           // window 0: no matches
      ("abcdefgh", "abzzzzzz", 0.5),                // jaro <= 0.7: NO boost
      ("abcdef", "bcadef", 0.9444444444444445)      // odd t2 halves by INT division
    )
    cases.foreach { case (a, b, want) =>
      assert(math.abs(jw(a, b) - want) < 1e-12, s"jw($a,$b)") }
    // symmetry
    cases.foreach { case (a, b, _) => assert(jw(a, b) === jw(b, a)) }
  }

  test("trimmed mean drops exactly the cut ranks and averages the core") {
    // group g: values 1..20 with one huge outlier replacing 20
    val rows = ((1 to 19).map(v => ("g", v.toDouble, v.toLong)) :+
      ("g", 100000.0, 20L)) ++ (1 to 3).map(v => ("h", v.toDouble, v.toLong))
    val df = rows.toDF("k", "v", "id")
    val got = Quantiles.trimmedMean(df, Seq("k"), "v", trimPpm = 100000,
        tieBreak = Seq(col("id").asc))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // g: n=20, cut=2 -> keep ranks 3..18 = values 3..18, mean 10.5
    assert(got("g") === ((20L, 2L, 10.5)))
    // h: n=3, cut=0 -> plain mean 2.0
    assert(got("h") === ((3L, 0L, 2.0)))
  }

  test("Benford audit: uniform-digit fixture has the right chi2 shape") {
    // 90 values, first digits uniform 1..9 (10 each)
    val rows = for (d <- 1 to 9; i <- 0 until 10)
      yield ("s", d * 100.0 + i)
    val got = Benford.firstDigitAudit(rows.toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length === 9)
    assert(got.forall(_._2 == 10L)) // 10 observations per digit
    assert(got.map(_._1).sorted.toSeq === (1 to 9))
    // expected ppm must sum to ~1e6 (Benford masses)
    val ppm = got.map(_._3).sum
    assert(ppm >= 999998L && ppm <= 1000002L)
    // chi2 identical on every row, equals the 6dp-term sum
    val chi2 = got.map(_._4).distinct
    assert(chi2.length === 1)
    val n = 90.0
    val expect = (1 to 9).map { d =>
      val p = math.log10(1.0 + 1.0 / d)
      val t = (10.0 - n * p) * (10.0 - n * p) / (n * p)
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(chi2.head - expect) < 1e-9)
  }

  test("WoE binning: equals a single-box reference on a skewed fixture") {
    // 20 rows, two value plateaus; bad concentrated in the high plateau
    val df = (1 to 20).map { i =>
      (i.toLong, if (i <= 10) 1.0 else 2.0, i > 14)
    }.toDF("id", "v", "bad")
    val got = WoeBinning.woeBins(df, "v", col("bad"),
        Seq(col("v").asc, col("id").asc), nBins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(6))).toList.sortBy(_._1)
    // ranks 1..20 → 4 bins of 5; bads are ids 15..20 → bins 2 (1 bad) and 3 (5 bads)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ===
      List((0L, 5L, 0L, 5L), (1L, 5L, 0L, 5L), (2L, 5L, 1L, 4L),
        (3L, 5L, 5L, 0L)))
    val woe = (good: Long, bad: Long) =>
      BigDecimal(math.log(((good + 0.5) / 14.0) / ((bad + 0.5) / 6.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._5) === List(woe(5, 0), woe(5, 0), woe(4, 1), woe(0, 5)))
  }

  /** Spark `round(double, 6)`: HALF_UP on the shortest-repr BigDecimal. */
  private def r6(d: Double): Double =
    BigDecimal(java.math.BigDecimal.valueOf(d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("Adamic–Adar equals an in-memory reference on random graphs") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(1L, 12L)))
    check(Prop.forAllNoShrink(edgeGen) { es0 =>
      val canon = es0.filter(e => e._1 != e._2)
        .map(e => (e._1 min e._2, e._1 max e._2)).distinct
      if (canon.isEmpty) Prop.passed
      else {
        val adj = canon.flatMap(e => Seq(e, e.swap))
          .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
        def w(n: Long) =
          BigDecimal(java.math.BigDecimal.valueOf(1.0 / math.log(adj(n).size)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        val ref = (for {
          u <- adj.keys; v <- adj.keys
          if u < v && !adj(u).contains(v)
          commons = adj(u).intersect(adj(v)) if commons.nonEmpty
        } yield (u, v) -> ((commons.size.toLong,
          commons.toSeq.map(w).sum))).toMap
        val got = LinkPrediction
          .adamicAdarTopK(canon.toDF("src", "dst"), "src", "dst",
            topK = 10000)
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(2), BigDecimal(r.getDecimal(3))))).toMap
        Prop(got.keySet == ref.keySet &&
          ref.forall { case (k, (n, s)) =>
            got(k)._1 == n && got(k)._2.compare(s) == 0 })
      }
    }, 25)
  }

  test("bounded SSSP equals an in-memory synchronous Bellman–Ford") {
    val ws = Seq("0.25", "0.5", "1.0", "1.5").map(BigDecimal(_))
    val edgeGen = Gen.listOfN(20, for {
      u <- Gen.chooseNum(1L, 8L); v <- Gen.chooseNum(1L, 8L)
      w <- Gen.oneOf(ws)
    } yield (u, v, w))
    check(Prop.forAllNoShrink(edgeGen) { es =>
      val seeds = Seq(1L, 2L)
      val rounds = 3
      // synchronous relaxation: every round uses LAST round's frontier
      var ref = seeds.map(_ -> BigDecimal(0)).toMap
      for (_ <- 1 to rounds) {
        val relaxed = es.flatMap { case (u, v, w) =>
          ref.get(u).map(d => v -> (d + w)) }
        ref = (ref.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(_ min _)
      }
      val e = es.map { case (u, v, w) => (u, v, w.toString) }
        .toDF("u", "v", "w")
        .select(col("u"), col("v"), col("w").cast("decimal(12,6)").as("w"))
      val got = Sssp.boundedShortestPaths(e, "u", "v", "w",
          seeds.toDF("n"), rounds)
        .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
      Prop(got.keySet == ref.keySet &&
        ref.forall { case (k, d) => got(k).compare(d) == 0 })
    }, 25)
  }

  test("Spearman equals an in-memory midrank Pearson on tied data") {
    val rowGen = for {
      g <- Gen.oneOf("a", "b"); x <- Gen.chooseNum(0, 5)
      y <- Gen.chooseNum(0L, 5L)
    } yield (g, x.toDouble, y)
    check(Prop.forAllNoShrink(Gen.listOfN(30, rowGen)) { rows =>
      def mid2(vs: Seq[Double]): Map[Double, Long] = {
        val sorted = vs.groupBy(identity).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        var below = 0L
        sorted.map { case (v, t) =>
          val m = 2 * below + t + 1; below += t; v -> m }.toMap
      }
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        val mx = mid2(rs.map(_._2))
        val myv = mid2(rs.map(_._3.toDouble))
        val pts = rs.map(r => (mx(r._2), myv(r._3.toDouble)))
        val n = BigInt(pts.size)
        val sx = pts.map(p => BigInt(p._1)).sum
        val sy = pts.map(p => BigInt(p._2)).sum
        val sxy = pts.map(p => BigInt(p._1) * p._2).sum
        val sxx = pts.map(p => BigInt(p._1) * p._1).sum
        val syy = pts.map(p => BigInt(p._2) * p._2).sum
        val num = n * sxy - sx * sy
        val vx = n * sxx - sx * sx
        val vy = n * syy - sy * sy
        g -> (if (vx == 0 || vy == 0) None
          else Some(r6(num.toDouble /
            math.sqrt(vx.toDouble * vy.toDouble))))
      }
      val got = Spearman.correlation(rows.toDF("g", "x", "y"), "g", "x", "y")
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      Prop(got == expect)
    }, 25)
  }

  test("moments equal the in-memory closed form on random cents") {
    val rowGen = Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(-500L, 500L))
    check(Prop.forAllNoShrink(Gen.listOfN(25, rowGen)) { rows =>
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        val cs = rs.map(_._2)
        val n = cs.size.toDouble
        val s1 = cs.map(BigInt(_)).sum.toDouble
        val s2 = cs.map(c => BigInt(c) * c).sum.toDouble
        val s3 = cs.map(c => BigInt(c) * c * c).sum.toDouble
        val s4 = cs.map(c => (BigInt(c) * c) * (BigInt(c) * c)).sum.toDouble
        val mu = s1 / n
        val m2 = s2 / n - mu * mu
        val m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
        val m4 = s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n) -
          3.0 * mu * mu * mu * mu
        g -> (if (m2 <= 0.0) (r6(mu), r6(m2), None, None)
          else (r6(mu), r6(m2), Some(r6(m3 / (m2 * math.sqrt(m2))) + 0.0),
            Some(r6(m4 / (m2 * m2) - 3.0) + 0.0)))
      }
      val got = Moments.shape(rows.toDF("g", "cents"), "g", "cents")
        .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
      Prop(got == expect)
    }, 25)
  }
}
