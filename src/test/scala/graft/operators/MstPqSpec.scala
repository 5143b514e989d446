package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** Pins [[Boruvka]] against hand graphs and [[ProductQuantization]] /
  * the q261 transformWithState drain against their invariants.
  */
class MstPqSpec extends SparkSpec with TimeLimits {
  import spark.implicits._
  implicit val signaler: Signaler = ThreadSignaler

  test("Boruvka: triangle drops exactly the heaviest edge") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 9L))
      .toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // round 1: every component's cheapest pick is (1,2) or (2,3) —
    // the w=9 edge never joins; one component remains
    assert(got(0) === ((1L, 2L, 3L, 1L)))
    // converged: nothing further to add
    assert(got(1) === ((2L, 0L, 0L, 1L)))
  }

  test("Boruvka: path graph connects fully in one round") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 7L))
      .toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 1)
      .collect()(0)
    // all three path edges are some component's minimum
    assert(got.getLong(1) === 3L && got.getLong(2) === 13L &&
      got.getLong(3) === 1L)
  }

  test("Boruvka: two separate components stay separate") {
    val edges = Seq((1L, 2L, 4L), (10L, 11L, 6L)).toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 2)
      .collect()
    assert(got(0).getLong(1) === 2L && got(0).getLong(3) === 2L)
    assert(got(1).getLong(1) === 0L && got(1).getLong(3) === 2L)
  }

  test("Boruvka: a long chain halves per round to one tree in bounded time") {
    // edge i joins nodes i and i+1 and ranks by the trailing zeros of
    // i, so round r adds exactly the edges with r-1 trailing zeros:
    // every round merges half the components, the most rounds a chain
    // can take, and the picks of round 1 alone number n/2
    val logN = 12
    val n = 1L << logN
    val w = (1L until n).map(i =>
      (i, java.lang.Long.numberOfTrailingZeros(i) * n + i))
    val edges = w.map { case (i, wi) => (i, i + 1, wi) }.toDF("a", "b", "w")
    val got = failAfter(Span(300, Seconds)) {
      Boruvka.forestRounds(edges, "a", "b", "w", rounds = logN).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    assert(got.map(_._1).toSeq === (1 to logN).map(r => n >> r))
    assert(got.map(_._2).sum === w.map(_._2).sum) // the whole chain
    assert(got.last._3 === 1L)
  }

  test("PQ: codes are in range and deterministic; ADC self-rank top") {
    val e = graft.Tables.embeddings(spark, sf())
    val corpus = e.filter(col("vec_id") >= 10)
    val cb = ProductQuantization.fitCodebooks(corpus, "vec_id",
      "embedding", m = 2, k = 4, iters = 1)
    assert(cb.count() === 8) // 2 subspaces x 4 clusters
    val enc = ProductQuantization.encode(corpus, "vec_id", "embedding",
      cb, m = 2)
    val codes = enc.select(org.apache.spark.sql.functions
      .explode(col("codes"))).as[Long].collect()
    assert(codes.forall(c => c >= 1 && c <= 4))
    // re-encoding is bit-identical (no RNG anywhere)
    val again = ProductQuantization.encode(corpus, "vec_id", "embedding",
      cb, m = 2)
    assert(enc.orderBy("vec_id").collect().toSeq ===
      again.orderBy("vec_id").collect().toSeq)
  }

  test("q260 PQ recall: valid ppm per query, exact yardstick honored") {
    val rows = SparkEntry.q260PqAnn(spark, sf()).collect()
    assert(rows.length === 10) // one row per query vector
    rows.foreach { r =>
      val (h, ppm) = (r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"))
      assert(h >= 0 && h <= 5 && ppm === h * 200000)
    }
  }

  test("q261 drain equals the batch group-by and restores the provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val got = SparkEntry.q261StreamRunningTotals(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spark.conf.getOption(key) === before)
    val want = graft.Tables.events(spark, sf())
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .cast("long").as("c"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }
}
