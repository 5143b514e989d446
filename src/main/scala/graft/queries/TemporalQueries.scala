package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal join queries — the as-of family (backward/forward/nearest, native exec dispatch) and banded range joins.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesTemporal]] / [[oracleSqlTemporal]] to the
  * assembled driver contract.
  */
private[graft] trait TemporalQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q44
  /** As-of (point-in-time) join: every click event gains the same
    * user's most recent view value at-or-before it. The right side is
    * pre-aggregated to one row per (user, ts) — the as-of uniqueness
    * contract. Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  def q44AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    operators.TemporalJoins.asofJoin(clicks, views, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightVals = Seq("view_value"))
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("view_value"), 6).as("view_value"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q45
  /** Banded range join: for every click, count the same user's views
    * within ±5 minutes. The band equi-join bounds fan-out; the oracle is
    * the plain range join (banding must be result-invisible).
    */
  def q45RangeJoin(s: SparkSession, d: String): DataFrame = {
    val fiveMinNs = 300000000000L // ts is nanos since epoch
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    operators.TemporalJoins.bandedRangeJoin(clicks, views, Seq("user_id"),
        leftTs = "ts", rightTs = "view_ts", lower = -fiveMinNs, upper = fiveMinNs)
      .groupBy(col("user_id"), col("event_id"))
      .agg(count(lit(1)).as("n_views_nearby"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q204
  /** The NATIVE as-of join ([[graft.plans.AsofJoinExec]] — custom
    * logical node + planner strategy + sort-merge physical operator)
    * on q44's exact query, against the same DuckDB `ASOF LEFT JOIN`
    * oracle: the whole-operator Catalyst extension path verified
    * end-to-end. One merge pass over co-clustered (key, time)-sorted
    * children — no union, no window, no second materialization of the
    * probe side.
    */
  def q204AsofNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("value")).as("view_value"))
    graft.plans.AsofJoinNative.asof(clicks, views,
        Seq("user_id"), Seq("v_user"), "ts", "v_ts")
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("view_value"), 6).as("view_value"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q219
  /** FORWARD as-of join ([[operators.TemporalJoins.asofJoinForward]]):
    * every click gains the same user's EARLIEST view value at-or-after
    * it — the "next event" lookup, time-negated onto the native
    * backward sort-merge exec. Oracle: DuckDB's native forward ASOF
    * (`c.ts <= v.ts`).
    */
  def q219AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("value")).as("view_value"))
    operators.TemporalJoins.asofJoinForward(clicks,
        views.withColumnRenamed("v_user", "user_id"), Seq("user_id"),
        leftTs = "ts", rightTs = "v_ts", rightVals = Seq("view_value"))
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("view_value"), 6).as("view_value"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q221
  /** NEAREST as-of join ([[operators.TemporalJoins.asofJoinNearest]]):
    * every click gains the temporally CLOSEST same-user view value in
    * either direction (ties backward) — two native as-of passes in
    * one pipeline, no self-join. Oracle: both DuckDB ASOF directions
    * + the same closest-pick CASE.
    */
  def q221AsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("value")).as("view_value"))
    operators.TemporalJoins.asofJoinNearest(clicks,
        views.withColumnRenamed("v_user", "user_id"), Seq("user_id"),
        leftTs = "ts", rightTs = "v_ts", rightVals = Seq("view_value"))
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("view_value"), 6).as("view_value"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q225
  /** KEYLESS TIMESTAMP band join through [[graft.plans
    * .RangeJoinBandingRule]] — the round-11 headline oracle-gated end
    * to end: the raw analyst predicate `v_ts BETWEEN c_ts − INTERVAL
    * '10' MINUTE AND c_ts + INTERVAL '10' MINUTE` (TIMESTAMP columns,
    * INTERVAL literal, NO key) would plan BroadcastNestedLoopJoin; the
    * rule — registered here exactly as the `spark.sql.extensions`
    * deployment would — rewrites it to the banded equi-join over
    * epoch-micros, and the per-hour pair counts must equal DuckDB's
    * plain quadratic evaluation of the same predicate. Users < 300
    * bound the pair cardinality.
    */
  def q225TsBandJoin(s: SparkSession, d: String): DataFrame = {
    if (!s.experimental.extraOptimizations
        .contains(graft.plans.RangeJoinBandingRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.RangeJoinBandingRule
    val ev = events(s, d).filter(col("user_id") < 300)
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts_utc").as("c_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("ts_utc").as("v_ts"))
    clicks.join(views,
        col("v_ts") >= col("c_ts") - expr("INTERVAL '10' MINUTE") &&
          col("v_ts") <= col("c_ts") + expr("INTERVAL '10' MINUTE"))
      .groupBy(date_trunc("hour", col("c_ts")).as("hour"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hour"))
  }

  // ---------------------------------------------------------------- q226
  /** TIMESTAMP-typed as-of join through the [[operators.TemporalJoins
    * .asofJoin]] dispatcher — q44's query with the time columns cast to
    * the analyst-default TIMESTAMP type, which round 11 taught the
    * dispatcher to normalize to epoch-micros and run on the native
    * [[graft.plans.AsofJoinExec]] (pre-r11 this silently fell back to
    * the windowed plan). Same DuckDB `ASOF LEFT JOIN` oracle as q44.
    */
  def q226AsofTimestamp(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_utc"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_utc").as("v_ts"))
      .agg(max(col("value")).as("view_value"))
    operators.TemporalJoins.asofJoin(clicks, views, Seq("user_id"),
        leftTs = "ts_utc", rightTs = "v_ts", rightVals = Seq("view_value"))
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("view_value"), 6).as("view_value"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q243
  /** Bitemporal as-of point query ([[operators.Scd2.bitemporalAsOf]]):
    * "what did we believe at time T about the state valid at time V" —
    * the two-axis completion of the temporal family (q123 builds
    * valid-time history; this adds transaction time). The bitemporal
    * table is the q123 SCD2 build with each version recorded at its
    * valid_from, plus a correction for every 3rd version recorded one
    * hour later — so at the chosen knownAt (3/4 through the event
    * span) some corrections are visible and supersede their originals
    * while later ones are still invisible. V/T derive from the event
    * span by integer arithmetic (engine-exact); the answer is one
    * filter + one `max(struct)` arg-max per user.
    */
  def q243BitemporalAsOf(s: SparkSession, d: String): DataFrame = {
    val high = 253402300799000000L
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts DIV 1000").as("us"), col("event_type"))
    val vers = operators.Scd2.versions(ev, "user_id", "us", "event_id",
      "event_type", high)
    val bt = vers.select(col("user_id"), col("version_no"),
        col("event_type"), col("valid_from"), col("valid_to"),
        col("valid_from").as("txn_us"))
      .unionAll(vers.filter(col("version_no") % 3 === 0)
        .select(col("user_id"), col("version_no"),
          concat(col("event_type"), lit("_corr")).as("event_type"),
          col("valid_from"), col("valid_to"),
          (col("valid_from") + lit(3600000000L)).as("txn_us")))
    val span = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val withPoints = bt.crossJoin(broadcast(span))
      .withColumn("__v", expr("(mn + mx) DIV 2"))
      .withColumn("__t", expr("mn + ((mx - mn) DIV 4) * 3"))
    operators.Scd2.bitemporalAsOf(withPoints, "user_id",
        "valid_from", "valid_to", "txn_us",
        Seq("version_no", "event_type"), col("__v"), col("__t"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q245
  /** Interval × interval overlap join
    * ([[operators.TemporalJoins.intervalOverlapJoin]]): per user, the
    * click sessions that overlap view sessions in time — pair count
    * and total overlapping microseconds — the temporal-allocation
    * question (which engaged-reading windows coincide with clicking
    * windows) that a naive theta-join plans as a nested loop. Both
    * session tables come from the q118 sessionizer, padded ±1 h into
    * half-open attribution windows `[start − 1h, end + 1 + 1h)` (the
    * raw per-type sessions rarely touch — the pad IS the business
    * rule: "within an hour of each other counts"). The banded
    * equi-join emits each overlapping pair exactly once (max-start
    * band pin — no distinct, no second shuffle); the oracle replays
    * the textbook quadratic overlap predicate, pinning banding as
    * result-invisible.
    */
  /** q245/q250 shared build: ±1 h-padded per-type session intervals,
    * overlap-joined click × view per user via the banded equi-join.
    */
  private def paddedSessionPairs(s: SparkSession, d: String): DataFrame = {
    val padUs = 3600000000L
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts DIV 1000").as("us"), col("event_type"))
    def sess(t: String, p: String) = operators.Sessionize.sessions(
        ev.filter(col("event_type") === t), "user_id", "us", "event_id",
        gap = 1800000000L)
      .select(col("user_id"), (col("start_ts") - padUs).as(s"${p}_start"),
        (col("end_ts") + 1 + padUs).as(s"${p}_end"))
    operators.TemporalJoins.intervalOverlapJoin(
      sess("click", "c"), sess("view", "v"), Seq("user_id"),
      "c_start", "c_end", "v_start", "v_end", bandWidth = 7200000000L)
  }

  def q245IntervalJoin(s: SparkSession, d: String): DataFrame =
    paddedSessionPairs(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("c_end"), col("v_end")) -
          greatest(col("c_start"), col("v_start"))).as("overlap_us"))
      .orderBy(col("user_id"))

  // ---------------------------------------------------------------- q250
  /** Allen-relation census of the q245 session pairs
    * ([[operators.TemporalJoins.allenRelation]]): every overlapping
    * click × view window pair classified into Allen's interval
    * algebra (equals / starts / started_by / finishes / finished_by /
    * during / contains / overlaps / overlapped_by — the nine
    * intersecting relations an overlap join can produce) and counted.
    * The relation is a pure codegen'd CASE column over the joined
    * frame; the oracle replays the identical precedence chain.
    */
  def q250AllenHistogram(s: SparkSession, d: String): DataFrame =
    paddedSessionPairs(s, d)
      .select(operators.TemporalJoins.allenRelation(col("c_start"),
        col("c_end"), col("v_start"), col("v_end")).as("relation"))
      .groupBy(col("relation"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("relation"))

  private[graft] def queriesTemporal: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q250_allen_histogram" -> (q250AllenHistogram _),
    "q245_interval_join" -> (q245IntervalJoin _),
    "q243_bitemporal_asof" -> (q243BitemporalAsOf _),
    "q44_asof_join" -> (q44AsofJoin _),
    "q45_range_join" -> (q45RangeJoin _),
    "q204_asof_native" -> (q204AsofNative _),
    "q219_asof_forward" -> (q219AsofForward _),
    "q221_asof_nearest" -> (q221AsofNearest _),
    "q225_ts_band_join" -> (q225TsBandJoin _),
    "q226_asof_timestamp" -> (q226AsofTimestamp _))

  private[graft] def oracleSqlTemporal: Map[String, String] = Map(
    "q250_allen_histogram" ->
      // same padded-session pair build as q245; the CASE precedence
      // chain mirrors allenRelation's `when` order exactly
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |cf AS (SELECT user_id, us, event_id,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |         <= 1800000000 THEN 0 ELSE 1 END AS is_new
        | FROM ev WHERE event_type = 'click'),
        |cg AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM cf),
        |cs AS (SELECT user_id, min(us) - 3600000000 AS st,
        |   max(us) + 1 + 3600000000 AS en
        | FROM cg GROUP BY user_id, sid),
        |vf AS (SELECT user_id, us, event_id,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |         <= 1800000000 THEN 0 ELSE 1 END AS is_new
        | FROM ev WHERE event_type = 'view'),
        |vg AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM vf),
        |vs AS (SELECT user_id, min(us) - 3600000000 AS st,
        |   max(us) + 1 + 3600000000 AS en
        | FROM vg GROUP BY user_id, sid),
        |p AS (SELECT
        |  CASE WHEN c.st = v.st AND c.en = v.en THEN 'equals'
        |       WHEN c.en = v.st THEN 'meets'
        |       WHEN v.en = c.st THEN 'met_by'
        |       WHEN c.en < v.st THEN 'before'
        |       WHEN v.en < c.st THEN 'after'
        |       WHEN c.st = v.st AND c.en < v.en THEN 'starts'
        |       WHEN c.st = v.st THEN 'started_by'
        |       WHEN c.en = v.en AND c.st > v.st THEN 'finishes'
        |       WHEN c.en = v.en THEN 'finished_by'
        |       WHEN c.st > v.st AND c.en < v.en THEN 'during'
        |       WHEN c.st < v.st AND c.en > v.en THEN 'contains'
        |       WHEN c.st < v.st THEN 'overlaps'
        |       ELSE 'overlapped_by' END AS relation
        | FROM cs c JOIN vs v ON v.user_id = c.user_id
        |   AND c.st < v.en AND v.st < c.en)
        |SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY relation ORDER BY relation""".stripMargin,
    "q245_interval_join" ->
      // sessionizer replay identical to q118 per event type; the join
      // is the textbook quadratic overlap predicate the banded plan
      // must reproduce exactly
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |cf AS (SELECT user_id, us, event_id,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |         <= 1800000000 THEN 0 ELSE 1 END AS is_new
        | FROM ev WHERE event_type = 'click'),
        |cg AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM cf),
        |cs AS (SELECT user_id, min(us) - 3600000000 AS st,
        |   max(us) + 1 + 3600000000 AS en
        | FROM cg GROUP BY user_id, sid),
        |vf AS (SELECT user_id, us, event_id,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |         <= 1800000000 THEN 0 ELSE 1 END AS is_new
        | FROM ev WHERE event_type = 'view'),
        |vg AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM vf),
        |vs AS (SELECT user_id, min(us) - 3600000000 AS st,
        |   max(us) + 1 + 3600000000 AS en
        | FROM vg GROUP BY user_id, sid)
        |SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(least(c.en, v.en) - greatest(c.st, v.st)) AS BIGINT)
        |    AS overlap_us
        |FROM cs c JOIN vs v ON v.user_id = c.user_id
        |  AND c.st < v.en AND v.st < c.en
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "q243_bitemporal_asof" ->
      // SCD2 replay identical to q123; corrections and V/T points by
      // exact integer arithmetic; per-user winner = latest txn among
      // rows valid at V and recorded by T (txn unique per qualifying
      // set, so the DESC tie-break chain is never reached)
      """WITH ev AS (SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, event_type
        | FROM events),
        |ch AS (SELECT user_id, event_id, us, event_type FROM (
        |  SELECT user_id, event_id, us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev
        |  FROM ev) WHERE prev IS NULL OR prev <> event_type),
        |vers AS (SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version_no,
        |  event_type, us AS valid_from,
        |  coalesce(lead(us) OVER w, 253402300799000000) AS valid_to
        | FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |bt AS (SELECT user_id, version_no, event_type, valid_from,
        |    valid_to, valid_from AS txn_us FROM vers
        |  UNION ALL SELECT user_id, version_no, event_type || '_corr',
        |    valid_from, valid_to, valid_from + 3600000000 FROM vers
        |  WHERE version_no % 3 = 0),
        |sp AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
        |pt AS (SELECT (mn + mx) // 2 AS v,
        |    mn + ((mx - mn) // 4) * 3 AS t FROM sp),
        |q AS (SELECT b.* FROM bt b, pt
        |  WHERE b.valid_from <= pt.v AND pt.v < b.valid_to
        |    AND b.txn_us <= pt.t),
        |r AS (SELECT user_id, txn_us, valid_from, valid_to, version_no,
        |    event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY txn_us DESC, valid_from DESC, valid_to DESC,
        |        version_no DESC, event_type DESC) AS rk
        |  FROM q)
        |SELECT user_id, txn_us, valid_from, valid_to, version_no,
        |  event_type
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q44_asof_join" ->
      """WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.value,
        | round(v.view_value, 6) AS view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,
    "q45_range_join" ->
      """WITH clicks AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts AS view_ts FROM events
        |  WHERE event_type = 'view')
        |SELECT c.user_id, c.event_id, count(*) AS n_views_nearby
        |FROM clicks c JOIN views v ON c.user_id = v.user_id
        | AND v.view_ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts + INTERVAL 5 MINUTE
        |GROUP BY c.user_id, c.event_id ORDER BY c.event_id""".stripMargin,
    "q204_asof_native" ->
      // same oracle as q44: DuckDB's native ASOF LEFT JOIN — here it
      // verifies the custom AsofJoinExec physical operator
      """WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.value,
        | round(v.view_value, 6) AS view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,
    "q219_asof_forward" ->
      // DuckDB native FORWARD ASOF: earliest view at-or-after the click
      """WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.value,
        | round(v.view_value, 6) AS view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts <= v.ts
        |ORDER BY c.event_id""".stripMargin,
    "q221_asof_nearest" ->
      // both ASOF directions + the closest-pick CASE (ties backward);
      // interval comparison == the Spark side's ns-long comparison
      // because ts is microsecond-aligned on both engines
      """WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts),
        |b AS (SELECT c.user_id, c.event_id, c.ts, c.value,
        |   v.view_value AS bv, v.ts AS bt
        | FROM clicks c ASOF LEFT JOIN views v
        |   ON c.user_id = v.user_id AND c.ts >= v.ts),
        |f AS (SELECT c.event_id, v.view_value AS fv, v.ts AS ft
        | FROM clicks c ASOF LEFT JOIN views v
        |   ON c.user_id = v.user_id AND c.ts <= v.ts)
        |SELECT b.user_id, b.event_id, b.value,
        | round(CASE WHEN f.fv IS NULL THEN b.bv
        |       WHEN b.bv IS NULL THEN f.fv
        |       WHEN (b.ts - b.bt) <= (f.ft - b.ts) THEN b.bv
        |       ELSE f.fv END, 6) AS view_value
        |FROM b JOIN f ON f.event_id = b.event_id
        |ORDER BY b.event_id""".stripMargin,
    "q225_ts_band_join" ->
      // the RAW quadratic predicate — DuckDB plans it however it likes
      // (IEJoin); Spark's banded rewrite must be result-invisible
      """WITH ev AS (SELECT event_type, ts FROM events WHERE user_id < 300),
        |clicks AS (SELECT ts AS c_ts FROM ev WHERE event_type = 'click'),
        |views AS (SELECT ts AS v_ts FROM ev WHERE event_type = 'view')
        |SELECT date_trunc('hour', c_ts) AS hour, count(*) AS n_pairs
        |FROM clicks JOIN views
        |  ON v_ts BETWEEN c_ts - INTERVAL 10 MINUTE
        |             AND c_ts + INTERVAL 10 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q226_asof_timestamp" ->
      // q44's oracle verbatim: DuckDB already reads ts as a µs
      // TIMESTAMP, so the TIMESTAMP-typed Spark dispatch must agree
      // with the same native ASOF LEFT JOIN
      """WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.value,
        | round(v.view_value, 6) AS view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin)
}
