package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.graftshim.CacheBridge

/** Pins the [[Retained]] release contract: operators that persist
  * multi-consumer intermediates register them, and ONE
  * `releaseAll(spark)` after the consuming action leaves the session's
  * cache manager empty — the lifecycle a long-lived API/CLI session
  * needs (previously only Bench's global `clearCache` reclaimed these).
  */
class RetainedSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a", "the quick brown fox jumps over the lazy dog"),
    (2L, "a", "pack my box with five dozen liquor jugs"),
    (3L, "b", "the quick brown fox naps beside the lazy dog"),
    (4L, "b", "sphinx of black quartz judge my vow")
  ).toDF("doc_id", "source", "text")

  private def cleanSlate(): Unit = {
    Retained.releaseAll(spark)
    spark.catalog.clearCache()
    assert(CacheBridge.isCacheEmpty(spark))
  }

  test("vocabularyOverlap: consume, release, cache manager empty") {
    cleanSlate()
    assert(CorpusOverlap.vocabularyOverlap(docs, "source", "text").count() > 0)
    assert(Retained.trackedCount(spark) === 1)
    assert(!CacheBridge.isCacheEmpty(spark), "vocab frame should be cached")
    assert(Retained.releaseAll(spark) === 1)
    assert(CacheBridge.isCacheEmpty(spark))
    assert(Retained.trackedCount(spark) === 0)
  }

  test("bigram LM + BM25 + kNN-LSH all release through the registry") {
    cleanSlate()
    assert(NgramLm.scoreByBigramLm(docs, "doc_id", "text").count() > 0)
    assert(InvertedIndex.bm25TopK(docs, "doc_id", "text",
      Seq("quick", "dog"), k = 3).count() > 0)
    val vecs = (1L to 8L).map(i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    KnnGraph.knnEdgesLsh(vecs, "vec_id", "embedding", k = 2).count()
    assert(Retained.trackedCount(spark) === 3)
    assert(Retained.releaseAll(spark) === 3)
    assert(CacheBridge.isCacheEmpty(spark))
    // idempotent: a second release is a no-op
    assert(Retained.releaseAll(spark) === 0)
  }
}
