package graft

import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Whole-surface plan-regression guard: every oracle-backed query's
  * PHYSICAL plan is built at sf0.001 and audited for the one shape
  * that silently kills a 100 TB run — a nested-loop/cartesian join
  * whose BOTH sides are unbounded (raw scans): O(|L|·|R|)
  * comparisons — and for a runaway size estimate ([[MaxSizeDigits]]).
  * The previous guard was a per-round manual ExplainQ read of the
  * top-5 queries; this pins all of them, every `sbt test`.
  *
  * Benign nested-loop shapes are allowed STRUCTURALLY, not by
  * name-allowlist: a BroadcastNestedLoopJoin / CartesianProduct node
  * passes iff at least one side's subtree is visibly bounded — it
  * contains an aggregation (cardinality ≤ its distinct keys; the
  * documented 1-row `crossJoin(broadcast(tot))` scalar attach and the
  * |A|×|B| contingency-grid cross are this) or a limit. A nested loop
  * whose build side is a raw table scan — the plan a future edit
  * would accidentally introduce by dropping an equi-key or writing an
  * un-banded range predicate — fails the suite with the query named.
  *
  * Streaming drains are excluded: their defs EXECUTE real micro-batch
  * engines (plan-building would run them); their batch-side plans are
  * covered by the batch queries they replay.
  */
class PlanAuditSpec extends SparkSpec {

  private val streamingDrains = Set(
    "q207_stream_windows", "q210_stream_dedup", "q211_stream_sessions",
    "q212_stream_append", "q213_stream_interval_join", "q214_stream_upsert",
    "q235_stream_static_join", "q251_stream_funnel",
    "q261_stream_running_totals", "q311_stream_outer_join")

  /** A subtree is visibly bounded when an aggregation or limit caps
    * its cardinality below the raw input's. `ReusedExchangeExec` is a
    * LEAF that references another exchange's subtree — look through it
    * or every reused scalar-aggregate broadcast reads as unbounded.
    */
  private def bounded(p: SparkPlan): Boolean =
    p.exists {
      case _: HashAggregateExec | _: SortAggregateExec |
           _: ObjectHashAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec => true
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        bounded(r.child)
      case _ => false
    }

  /** Documented brute-force baselines whose bounded side is a FILTERED
    * probe/query set (a size contract, invisible to plan structure):
    * the ANN exact-baseline scans (q26/q78), the JL-recall eval's exact
    * tiers (q187), and the kNN label-noise probe set (q191) — each is
    * O(|probes|·|corpus|) BY DESIGN, the yardstick its approximate
    * counterpart is measured against. Additions here need the same
    * justification, not just a green build.
    */
  private val boundedByContract = Set(
    "q26_ann_topk", "q78_quantized_ann", "q187_jl_recall",
    "q191_label_noise",
    // q78 served from the persisted calibration index — the identical
    // vec_id < 10 broadcast-probe crossJoin shape and size contract
    "q318_int8_index_reuse",
    // q27 served from the persisted IVF index: the nprobe crossJoin's
    // build side is the centroid frame read from the store — |labels|
    // rows by the trainer's contract (the q283 pattern: a parquet read
    // is structurally opaque where q27's inline aggregation is visible)
    "q316_ivf_index_reuse",
    // RRF / retrieval-eval drive bruteForceTopK with a one-vector /
    // filtered probe set as the exact yardstick for the indexed path
    "q127_rrf", "q132_retrieval_eval",
    // PQ recall eval: (a) the same bruteForceTopK probe-set yardstick
    // as q26/q187, and (b) the ADC lookup-table build — a crossJoin of
    // the 10-query probe set with the m·k-row trained codebook frame
    // (checkpointed, so structurally opaque) — both bounded by the
    // operator's size contract, never corpus×corpus
    "q260_pq_ann",
    // q283 is q260 served from the persisted index: the identical
    // probe-set yardstick + ADC lookup-table crossJoin, with the
    // codebook frame now a parquet READ from the index store (still
    // m·k rows by the trainer's contract) instead of a checkpoint
    "q283_pq_index_reuse",
    // rich-club: the non-equi (deg > k) broadcast joins pair the
    // node-degree frame (localCheckpoint-ed → LogicalRDD, structurally
    // opaque) with the LITERAL 7-row threshold frame (constant-folded
    // to a LocalTableScan, its limit collapsed) — |thresholds| rows by
    // construction, never data × data
    "q269_rich_club",
    // motif/discord: the matrix profile IS the O(n²) pair expansion —
    // both BNLJ sides are the SAME checkpointed sliding-window frame
    // (LogicalRDD, structurally opaque), calendar-bounded by the
    // operator's pre-aggregated-series contract (~2,400 rows for the
    // daily series at every SF), never fact-table-sized
    "q280_motif_discord",
    // adaptive-LSH recall audit: the exact tier crossJoins the
    // vec_id % 5 = 0 PROBE set (broadcast, |corpus|/5 rows by the
    // sampling contract) with the corpus — the q187/q26 exact-yardstick
    // shape, O(|probes|·n) by design, never corpus × corpus
    "q315_knn_adaptive_recall")

  /** Bound on the digits of each audited plan's optimized
    * `sizeInBytes`. Catalyst estimates a join as the product of its
    * children, so a frame lazily joined with itself and re-checkpointed
    * compounds the estimate until the planner stalls in `BigInteger`
    * arithmetic (the q262 hang). The bound is the largest estimate at
    * sf0.001 when it was set: 80 digits, q109_mad_outliers.
    */
  private val MaxSizeDigits = 80

  test("no query plans a nested-loop/cartesian join of two unbounded sides") {
    // plain (non-adaptive) plans so the join operators are directly
    // visible in the tree; restored afterwards
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val oversized = scala.collection.mutable.ArrayBuffer[String]()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(kv => streamingDrains(kv._1))
        .filterNot(kv => boundedByContract(kv._1))
        .foreach { case (name, fn) =>
          try {
            val qe = fn(spark, sf()).queryExecution
            val plan = qe.executedPlan
            val digits = qe.optimizedPlan.stats.sizeInBytes.toString.length
            if (digits > MaxSizeDigits)
              oversized += s"$name: sizeInBytes estimate has $digits digits"
            plan.foreach {
              case j: BroadcastNestedLoopJoinExec
                  if !bounded(j.left) && !bounded(j.right) =>
                offenders += s"$name: unbounded BroadcastNestedLoopJoin"
              case j: CartesianProductExec
                  if !bounded(j.left) && !bounded(j.right) =>
                offenders += s"$name: unbounded CartesianProduct"
              case _ =>
            }
          } finally {
            operators.Retained.releaseAll(spark)
            spark.catalog.clearCache()
          }
        }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(offenders.isEmpty,
      s"quadratic join shapes found:\n${offenders.mkString("\n")}")
    assert(oversized.isEmpty,
      s"size estimates past $MaxSizeDigits digits:\n${oversized.mkString("\n")}")
  }
}
