package graft.tools

import org.apache.spark.sql.functions._

/** Generate an sf≈1-equivalent synthetic slice for the scale ladder
  * (round-11 verdict task 6): the 100× design claim rested on the
  * sf0.01→0.1 decade; this adds a 0.1→1 decade for the costliest
  * families WITHOUT touching the driver-owned `/root/testdata` (the
  * slice is ladder-only, never oracle-gated).
  *
  * Scaling = 10 disjoint replicas of the sf0.1 tables with remapped
  * key spaces, built so each family's WORK scales like real growth
  * instead of degenerating:
  *  - `lineitem`: orderkey AND partkey shifted per replica → the
  *    co-purchase graph becomes 10 disjoint copies (10× nodes and
  *    edges at constant density — plain row replication would leave
  *    `DISTINCT (orderkey, partkey)` unchanged and scale nothing).
  *  - `documents`: doc_id shifted; every token suffixed `_i` for
  *    replica i>0 → replica vocabularies are disjoint, so MinHash/
  *    SimHash band buckets grow ~linearly. Identical copies would put
  *    10 exact duplicates of every doc in the same bucket and explode
  *    candidate pairs quadratically — a DIFFERENT (dup-heavier)
  *    corpus, not a bigger one.
  *  - `embeddings`: vec_id shifted; per-replica ISOMETRY (circular
  *    dim shift + deterministic sign flips) → within-replica cosine
  *    structure preserved exactly, cross-replica cosines decorrelated,
  *    so kNN/LSH work scales like 10× genuinely new vectors.
  *  - `events`: event_id/user_id shifted, timestamps kept → 10× users
  *    over the same period (windows keep their count, rows per window
  *    ×10; sessions scale with users).
  * Replica 0 is the identity, so sf0.1 is an exact subset.
  *
  * Usage: runMain graft.tools.MakeLadderSf1 [srcDir] [outDir] [reps]
  * (defaults /root/testdata/sf0.1 → /tmp/graft-sf1 × 10; reps = 30
  * builds the sf~3 half-decade slice at /tmp/graft-sf3 — round-13
  * verdict task 5).
  */
object MakeLadderSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft-sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    require(reps >= 2 && reps <= 64, s"reps must be in [2, 64], got $reps")
    val spark = graft.Bench.session(16)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    // small dims are copied verbatim (Bench's warmup reads nation)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    val rep = explode(sequence(lit(0), lit(reps - 1))).as("rep")

    val li = graft.Tables.lineitem(spark, src)
    val okOff = li.agg(max("l_orderkey")).head.getLong(0) + 1
    val pkOff = li.agg(max("l_partkey")).head.getLong(0) + 1
    li.select(col("*"), rep)
      .select(
        (col("l_orderkey") + col("rep") * okOff).as("l_orderkey"),
        (col("l_partkey") + col("rep") * pkOff).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val docs = graft.Tables.documents(spark, src)
    val docOff = docs.agg(max("doc_id")).head.getLong(0) + 1
    docs.select(col("*"), rep)
      .select(
        (col("doc_id") + col("rep") * docOff).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            x => concat(x, lit("_"), col("rep").cast("string"))), " "))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = graft.Tables.embeddings(spark, src)
    val vecOff = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    // isometry per replica: circular shift by rep*dims/reps, sign
    // flip from a deterministic (rep, dim) hash — norms and
    // within-replica pairwise cosines are preserved exactly
    emb.select(col("*"), rep)
      .select(
        (col("vec_id") + col("rep") * vecOff).as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), d => {
          val shifted = element_at(col("embedding"),
            pmod(d + col("rep") * lit(dims / reps), lit(dims)) + 1)
          val sign = when(
            pmod(d * lit(2654435761L) + col("rep") * lit(40503L),
              lit(2)) === 0,
            lit(1.0f)).otherwise(lit(-1.0f))
          (shifted * sign).cast("float")
        }).as("embedding"),
        col("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events re-emit ts as the epoch-ns BIGINT contract (Tables.events
    // LongType passthrough) — µs-aligned by construction
    val ev = graft.Tables.events(spark, src)
    val evOff = ev.agg(max("event_id")).head.getLong(0) + 1
    val userOff = ev.agg(max("user_id")).head.getLong(0) + 1
    ev.select(col("*"), rep)
      .select(
        (col("event_id") + col("rep") * evOff).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * userOff).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    for (t <- Seq("lineitem", "documents", "embeddings", "events"))
      println(s"$t: " + spark.read.parquet(s"$out/$t.parquet").count())
    spark.stop()
  }
}
