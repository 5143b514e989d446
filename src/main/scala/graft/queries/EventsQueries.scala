package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time behavioral queries — windows, sessions, funnels, retention, transitions, anomaly/changepoint gates, watermark sizing.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesEvents]] / [[oracleSqlEvents]] to the
  * assembled driver contract.
  */
private[graft] trait EventsQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q37
  /** Event-time tumbling-window aggregation — the batch face of the
    * Structured-Streaming surface (the streaming variant with watermarks
    * runs in StreamingSpec over the same logic). `ts` arrives as raw
    * nanos (see Tables) and buckets to epoch-aligned hours.
    */
  def q37EventWindows(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  // ---------------------------------------------------------------- q43
  /** Per-user session windows (30-minute inactivity gap) over the event
    * stream — Spark's `session_window` evaluated in batch; the same
    * expression runs under Structured Streaming with a watermark
    * ([[streaming.StreamingImport.sessionEventStats]]). A new session
    * starts when an event arrives ≥ gap after the previous one; the
    * oracle is the classic gaps-and-islands formulation.
    */
  def q43SessionWindows(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n"),
        col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  // ---------------------------------------------------------------- q80
  /** Conversion funnel over the event stream: users whose first signup
    * is followed by >= 1 purchase within 7 days. All timestamp
    * arithmetic in integer microseconds (nanos DIV 1000) — exact and
    * engine-invariant. One shuffle keyed by user.
    */
  def q80Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("ts DIV 1000").as("us"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("first_signup_us"))
    val sevenDaysUs = 7L * 86400L * 1000000L
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("us") > col("first_signup_us") &&
        col("us") <= col("first_signup_us") + sevenDaysUs)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_purch_7d"))
    signup.join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("first_signup_us"),
        coalesce(col("n_purch_7d"), lit(0L)).as("n_purch_7d"),
        (coalesce(col("n_purch_7d"), lit(0L)) > 0).cast("long").as("converted"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q88
  /** Burst debounce: drop an event when the same (user, type) fired
    * within the preceding 2 hours — telemetry de-noising as a per-key
    * lag window (integer-μs arithmetic; total order via event_id
    * tie-break). Windows partition by key: no global sort.
    */
  def q88Debounce(s: SparkSession, d: String): DataFrame = {
    val gapUs = 2L * 3600L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs)
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q112
  /** Per-user event-transition matrix (first-order Markov estimate):
    * adjacent (event_type → next event_type) counts under the total
    * per-user order (ts, event_id), with row-normalized transition
    * probabilities. The lag window is user-partitioned (hash
    * partitioning — never global); the matrix itself is
    * |event_types|²-sized, so the normalizing join broadcasts.
    */
  def q112EventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val trans = events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("__tot"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6)
          .as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // ---------------------------------------------------------------- q114
  /** Exponentially time-decayed engagement score per user: each event
    * contributes `value · round(exp(−Δdays/7), 6)` against the corpus's
    * latest timestamp — recency weighting with a one-week half-life-ish
    * decay, the standard freshness prior of feed/source ranking. The
    * anchor is the corpus max (a 1-row broadcast); decay factors round
    * to 6dp and multiply DECIMAL(18,2)-cast values, so the per-user
    * DECIMAL sums are exact and engine-independent. One scan + one hash
    * aggregation.
    */
  def q114DecayedEngagement(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("value"),
      expr("ts DIV 1000").as("us"))
    val anchor = ev.agg(max(col("us")).as("__anchor"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("__w", round(exp(
        (col("us") - col("__anchor")).cast("double") / lit(86400000000.0 * 7.0)), 6)
        .cast("decimal(18,6)"))
      .withColumn("__term", col("value").cast("decimal(18,2)") * col("__w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("__term")).cast("double") + lit(0.0)).as("decayed_value"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q115
  /** Weekly cohort retention: users grouped by their first-activity
    * epoch week, then each later week's active fraction of that cohort —
    * the classic retention triangle. Weeks are integer epoch-week
    * indexes (µs DIV week), cohorts a per-user min, the matrix
    * |weeks|²-bounded; everything is hash aggregation over the
    * (user, week) distinct frame and the rate is one exact-int division
    * rounded to 6dp.
    */
  def q115CohortRetention(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d)
      .select(col("user_id"), expr("(ts DIV 1000) DIV 604800000000").as("week"))
      .distinct()
    val cohorts = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("weeks_since"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }

  // ---------------------------------------------------------------- q117
  /** Exact frequent tokens above 0.5% support via the mergeable
    * Misra–Gries candidate pass + exact recount
    * ([[operators.HeavyHitters]]): the operator for vocabularies too
    * large for a full `groupBy(token)` hash table — the summary ships
    * one ≤ k-entry map per partition, the recount touches only the
    * ≤ k candidates. k = 799 puts the MG undercount bound (n/800)
    * strictly under the n/200 threshold, so the output is provably
    * the exact frequency-threshold set.
    */
  def q117HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(
      explode(graft.functions.TextAnalysis.tokens(col("text"))).as("token"))
    val n = toks.count()
    operators.HeavyHitters.frequentItems(toks, "token", k = 799,
        minCount = math.max(n / 200L, 1L), totalHint = Some(n))
      .select(col("item").as("token"), col("n"))
      .orderBy(col("token"))
  }

  // ---------------------------------------------------------------- q118
  /** Per-user session rollup under a 30-minute inactivity gap
    * ([[operators.Sessionize]]) — the batch face of q43's streaming
    * `session_window`, but with stable per-session indexes so raw
    * events can be joined back to their session. One user-partitioned
    * shuffle; the lag and running-sum windows never leave it.
    */
  def q118Sessions(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts DIV 1000").as("us"))
    operators.Sessionize.sessions(ev, "user_id", "us", "event_id",
        gap = 1800000000L)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_ts").as("start_us"), col("end_ts").as("end_us"),
        col("duration").as("duration_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  // ---------------------------------------------------------------- q120
  /** Dense daily activity panel: per-user event counts resampled onto
    * the CORPUS calendar with zero-filled gaps — the regularization
    * step before any per-user time-series model. Complements q84's
    * forward-fill regrid, which interpolates each user's OWN span with
    * last-observation carry; here every user gets the same rectangular
    * calendar and absent days are true zeros (counts, not levels). The
    * calendar span is a 1-row broadcast; the grid is `users × days` by
    * construction (explode of a `sequence`), and the fill is one left
    * join against the per-(user, day) hash aggregate.
    */
  def q120Resample(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      expr("(ts DIV 1000) DIV 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val counts = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    grid.join(counts, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("user_id"), col("day"))
  }

  // ---------------------------------------------------------------- q135
  /** Rolling-window anomaly flags over each user's event-value stream:
    * an event is anomalous when it sits more than 3 sigma from the
    * mean of the user's previous 8 events — the standard streaming
    * outlier gate, evaluated batch-side. EXACT arithmetic throughout:
    * values become integer cents in the scan stage, the rolling
    * mean/variance live as integer sums, and the 3-sigma test is the
    * cross-multiplied integer comparison `(n·v − s)² > 9·(n·q − s²)`
    * — zero floats, so any engine flags the identical rows
    * ([[operators.RollingAnomaly]]). The output is the anomalies only.
    */
  def q135RollingAnomaly(s: SparkSession, d: String): DataFrame =
    operators.RollingAnomaly.anomalies(
        events(s, d).select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), col("value"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc")),
        "user_id", "us", "event_id", "vc")
      .select(col("user_id"), col("event_id"), col("us"), col("value"),
        col("window_n"))
      .orderBy(col("user_id"), col("us"), col("event_id"))

  // ---------------------------------------------------------------- q136
  /** Offline CUSUM changepoint detection per user: the event index
    * where the cumulative deviation from the user's overall mean value
    * peaks — the classic single-changepoint location statistic
    * (max_k |Σ_{i≤k} (x_i − x̄)|). EXACT: deviations are
    * cross-multiplied by the user's event count (`n·Σvc − k·S` in
    * integer cents), so the argmax compares exact integers and ties
    * break to the earliest event identically on any engine
    * ([[operators.Changepoint]]).
    */
  def q136Changepoint(s: SparkSession, d: String): DataFrame =
    operators.Changepoint.cusumPeak(
        events(s, d).select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc")),
        "user_id", "us", "event_id", "vc")
      .select(col("user_id"), col("cp_tie").as("cp_event_id"),
        col("cp_index"), col("cusum_abs"), col("n_rows").as("n_events"))
      .orderBy(col("user_id"))

  // ---------------------------------------------------------------- q145
  /** Ordered conversion funnel ([[operators.Funnel.stageCounts]]):
    * view → click → purchase with a strict AFTER constraint per user.
    * Each stage is one user-key hash join against the shrinking
    * reached-set plus one min hash-agg; conversion is exact-integer
    * ppm. The oracle unrolls the stages as min-aggregation CTEs —
    * same strict-inequality semantics (driver events are µs-unique
    * per user, checked at all three scales).
    */
  def q145Funnel(s: SparkSession, d: String): DataFrame =
    operators.Funnel.stageCounts(events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
      .select(col("stage_idx").cast("long").as("stage_idx"), col("stage"),
        col("n_users"), col("conv_ppm"))
      .orderBy(col("stage_idx"))

  // ---------------------------------------------------------------- q146
  /** Per-user time-weighted average of the event value
    * ([[operators.TimeWeighted.twa]]): each value is weighted by how
    * long it stayed current (µs gap to the user's next event), so
    * burst sampling doesn't dominate the mean. One user-partitioned
    * window + one hash agg; the value×duration sum accumulates in
    * exact DECIMAL, with a single deterministic double division at
    * the end.
    */
  def q146Twa(s: SparkSession, d: String): DataFrame =
    operators.TimeWeighted.twa(
        events(s, d).withColumn("us", expr("ts DIV 1000")), // ns → µs exact
        "user_id", "us", "value")
      .select(col("k").as("user_id"), col("n_events"), col("span_us"),
        col("twa"))
      .orderBy(col("user_id"))

  // ---------------------------------------------------------------- q157
  /** Per-user engagement trend ([[operators.Regression.olsPerKey]]):
    * value regressed on the user's seconds-offset timeline — ~1500
    * independent OLS fits in ONE key-partitioned moment aggregation
    * (five exact DECIMAL moments, closed-form ratios, no iteration).
    * The x offset is exact integer seconds ((ts − min ts) DIV 1e9 on
    * the ns line ≡ µs DIV 1e6 on the oracle's).
    */
  def q157UserTrend(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("__x",
      expr("(ts - min(ts) OVER (PARTITION BY user_id)) DIV 1000000000"))
    operators.Regression.olsPerKey(ev, "user_id", "__x", "value")
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q169
  /** Last-touch revenue attribution ([[operators.TemporalJoins
    * .asofJoin]]): every purchase is attributed to the user's latest
    * prior click/view (or 'direct' when none) and revenue rolled up
    * per channel. The as-of join is the union-window formulation —
    * one user-partitioned shuffle, no per-row probing; revenue sums
    * in DECIMAL.
    */
  def q169Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").cast("decimal(18,2)").as("v"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"))
    operators.TemporalJoins.asofJoin(purchases, touches, Seq("user_id"),
        "ts", "touch_ts", Seq("touch_type"))
      .withColumn("channel", coalesce(col("touch_type"), lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("v")).cast("double").as("revenue"))
      .orderBy(col("channel"))
  }

  // ---------------------------------------------------------------- q190
  /** Signup→purchase conversion-delay quantiles by signup weekday —
    * time-to-event percentiles over exact integer-µs delays; the
    * funnel-latency readout q80's fixed-window conversion rate can't
    * give. Type-1 DISCRETE quantiles (value at rank ceil(q·n)), not
    * interpolated: at 1e11-µs magnitudes a double's ulp (~3e-5)
    * exceeds 6-dp rounding, so interpolation arithmetic diverges
    * across engines in the last ulp — rank selection is pure integer
    * work (the one float op, ceil(q·n), is the same IEEE multiply on
    * both sides). Ranks via the distributed ordinal; no window.
    */
  def q190ConversionDelay(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val sign = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("sts"))
    val first = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
      .join(sign, Seq("user_id")).filter(col("pts") >= col("sts"))
      .groupBy(col("user_id"), col("sts")).agg(min(col("pts")).as("pts"))
    val delays = first.select(
      expr("((sts DIV 86400000000000) + 4) % 7").as("wd"), // 1970-01-01=Thu
      expr("(pts - sts) DIV 1000").as("delay_us"))
    val ranked = operators.Ordinals.withOrderedOrdinal(delays,
      Seq(col("wd"), col("delay_us")), "__rn")
    val base = ranked.groupBy("wd")
      .agg(min(col("__rn")).as("b"), count(lit(1)).as("n"))
    val targets = base.withColumn("q",
        explode(array(lit(0.5), lit(0.9), lit(0.99))))
      .withColumn("r", ceil(col("q") * col("n")).cast("long"))
    ranked.as("rk").join(broadcast(targets.as("t")),
        col("rk.wd") === col("t.wd") &&
          col("rk.__rn") - col("t.b") + 1 === col("t.r"))
      .groupBy(col("t.wd").as("wd"))
      .agg(max(when(col("q") === 0.5, col("delay_us"))).as("p50_us"),
        max(when(col("q") === 0.9, col("delay_us"))).as("p90_us"),
        max(when(col("q") === 0.99, col("delay_us"))).as("p99_us"),
        max(col("n")).as("n"))
      .orderBy(col("wd"))
  }

  // ---------------------------------------------------------------- q194
  /** Inter-arrival burstiness per event type (Goh & Barabási 2008:
    * B = (σ−μ)/(σ+μ) over inter-event gaps; 0 = Poisson, →1 = bursty,
    * →−1 = periodic) — the traffic-shape audit distinguishing human
    * sessions from synthetic feeds. Gaps per (user, type) stream via
    * one partitioned lag; moments are exact DECIMAL power sums; one
    * float closed form per type.
    */
  def q194Burstiness(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    val gaps = events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts DIV 1000").as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("gap").cast("decimal(19,0)")).cast("decimal(20,0)").as("s1"),
        // (19,0) operands force the int128 decimal class in BOTH
        // engines — DuckDB's width-18 int64 fast path overflows on
        // multi-day gaps squared
        sum((col("gap").cast("decimal(19,0)") *
          col("gap").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .cast("decimal(34,0)").as("s2"))
      .withColumn("__mu", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("__sd", sqrt(col("s2").cast("double") /
        col("n").cast("double") - col("__mu") * col("__mu")))
      .select(col("event_type"), col("n"),
        // exact integer mean: at 1e11-µs magnitudes round(x,6) sits
        // below the double ulp and diverges across engines
        expr("CAST(s1 AS BIGINT) DIV n").as("mean_gap_us"),
        when(col("__sd") + col("__mu") === 0.0, lit(null).cast("double"))
          .otherwise(round((col("__sd") - col("__mu")) /
            (col("__sd") + col("__mu")), 6) + lit(0.0)).as("burstiness"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q198
  /** Purchase-weekday seasonality: chi-square independence of part ×
    * order-weekday over the top-10 parts (one
    * [[operators.Contingency.chiSquareIndependence]] call) — "do the
    * popular items sell on different days?". Weekday from portable
    * epoch-day arithmetic (both engines' dayofweek conventions
    * differ); top-10 by distinct order count, ties on part id.
    */
  def q198Seasonality(s: SparkSession, d: String): DataFrame = {
    val rows = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .join(orders(s, d).select(col("o_orderkey").as("ok"),
        ((datediff(col("o_orderdate"), lit("1970-01-01")) + 4) % 7)
          .cast("long").as("wd")), Seq("ok"))
    val top = rows.groupBy("pk").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pk")).limit(10).select(col("pk"))
    operators.Contingency.chiSquareIndependence(
      rows.join(broadcast(top), Seq("pk")), "pk", "wd")
  }

  // ---------------------------------------------------------------- q201
  /** Right-to-be-forgotten cascade audit: a forget-list of customers
    * (c_custkey % 97 == 0) propagated through orders and lineitem by
    * key-only anti joins — the per-table survivor/removed counts a
    * GDPR deletion run must report before committing. Anti joins
    * carry only the key column; the cascade is two hops (customer →
    * orders → lineitem), never a multi-way join.
    */
  def q201ForgetCascade(s: SparkSession, d: String): DataFrame = {
    val forget = customer(s, d).filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("k"))
    val c = customer(s, d)
    val o = orders(s, d)
    val l = lineitem(s, d)
    val oKeep = o.join(forget, o("o_custkey") === forget("k"), "left_anti")
    val okKeep = oKeep.select(col("o_orderkey").as("k2"))
    val lKeep = l.join(okKeep, l("l_orderkey") === okKeep("k2"), "left_semi")
    def row(name: String, total: DataFrame, kept: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total")).crossJoin(
        broadcast(kept.agg(count(lit(1)).as("n_kept"))))
        .select(lit(name).as("table_name"), col("n_total"), col("n_kept"),
          (col("n_total") - col("n_kept")).as("n_removed"))
    row("customer", c,
        c.join(forget, c("c_custkey") === forget("k"), "left_anti"))
      .unionAll(row("orders", o, oKeep))
      .unionAll(row("lineitem", l, lKeep))
      .orderBy(col("table_name"))
  }

  // ---------------------------------------------------------------- q202
  /** Top user journeys: the 20 most common 3-event type sequences
    * (consecutive by time within a user) — the product-analytics
    * "what do people actually do" readout behind funnel design. Two
    * leads in ONE user-partitioned window pass; exact counts.
    */
  def q202JourneyTrigrams(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q203
  /** Transition dwell times: for each (from → to) consecutive event-
    * type pair, the exact integer-µs mean and max gap — q112's
    * transition PROBABILITIES with the time dimension added (how long
    * do users sit between steps). One lead window; DIV means.
    */
  def q203TransitionDwell(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("us2", lead(col("us"), 1).over(w))
      .filter(col("t2").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("t2").as("to_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("us2") - col("us")).cast("decimal(19,0)"))
          .cast("decimal(20,0)").as("gap_sum"),
        max(col("us2") - col("us")).as("max_gap_us"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("CAST(gap_sum AS BIGINT) DIV n").as("mean_gap_us"),
        col("max_gap_us"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // ---------------------------------------------------------------- q205
  /** Watermark sizing audit: per event type, how far out-of-order the
    * stream actually arrives — lateness = running max(event time in
    * arrival order) − event time. The number that SIZES a streaming
    * job's `withWatermark` delay: too small drops the tail, too large
    * holds state. Arrival order = event_id (the generator's ingest
    * sequence); exact integer µs. On the synthetic feed the answer is
    * all-zeros — the generator emits in timestamp order — which is
    * the audit PASSING (watermark delay 0 suffices), not a gap: the
    * machinery is what the oracle verifies, and real ingest is where
    * the numbers go nonzero.
    */
  def q205WatermarkSizing(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("event_type"), col("event_id"),
        expr("ts DIV 1000").as("us"))
      .withColumn("late", greatest(max(col("us")).over(w) - col("us"), lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("late") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late")).as("max_late_us"),
        sum(col("late").cast("decimal(19,0)")).cast("decimal(20,0)")
          .as("__ls"))
      .select(col("event_type"), col("n"), col("n_late"),
        col("max_late_us"),
        expr("CAST(__ls AS BIGINT) DIV n").as("mean_late_us"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q216
  /** Daily cohort retention over the event stream
    * ([[operators.Retention.cohortRetention]]): users cohorted by
    * first-activity DAY (epoch-day integers — the synthetic feed spans
    * ~one month, so daily periods give a real curve where monthly
    * would collapse to one cell), survivors counted per
    * days-since-cohort, retention as exact integer ppm.
    */
  def q216CohortRetention(s: SparkSession, d: String): DataFrame =
    operators.Retention.cohortRetention(
        events(s, d).withColumn("period",
          expr("ts DIV 86400000000000")), // exact epoch-day from ns
        "user_id", "period")
      .orderBy(col("cohort"), col("k"))

  // ---------------------------------------------------------------- q223
  /** Conditional entropy of event transitions H(next | current) —
    * how PREDICTABLE the next event type is given the current one
    * (0 = deterministic journeys, ln|types| = memoryless), the
    * one-number sequence-structure summary over q203's transition
    * frame. Per-pair term `c_ab · round(ln(c_ab / c_a·), 6)` summed
    * in DECIMAL (rounded-ln doctrine), H = −sum / T published 6 dp
    * alongside the exact pieces.
    */
  def q223TransitionEntropy(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .filter(col("t2").isNotNull)
      .groupBy(col("event_type").as("a"), col("t2").as("b"))
      .agg(count(lit(1)).as("c"))
    val fromTot = pairs.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val tot = pairs.agg(sum(col("c")).as("t"), count(lit(1)).as("n_pairs"))
    pairs.join(fromTot, Seq("a"))
      .crossJoin(broadcast(tot))
      .withColumn("__t", (col("c") * round(log(
        col("c").cast("double") / col("ca").cast("double")), 6)
        .cast("decimal(18,6)")).cast("decimal(28,6)"))
      .groupBy(col("t"), col("n_pairs"))
      .agg(sum(col("__t")).cast("decimal(28,6)").as("__s"))
      .select(col("t").as("n_transitions"), col("n_pairs"),
        col("__s").cast("double").as("sum_clogp"),
        // + 0.0: a fully deterministic corpus sums to 0 and -0.0 hashes
        // differently from 0.0 in the checker
        round(-col("__s").cast("double") / col("t").cast("double") + 0.0, 6)
          .as("cond_entropy"))
  }

  // ---------------------------------------------------------------- q232
  /** Partition-pruned scan (SURVEY §4's "partition pruning is free when
    * the plan is declarative" made an oracle row, the directory-layout
    * sibling of q231's bucketing): events are staged as parquet
    * PARTITIONED BY event_type, then a filtered read aggregates one
    * type. The filter resolves against the directory layout, so the
    * scan lists and reads ONLY the matching partition —
    * ComponentsSpec pins `PartitionFilters` on the scan; this row pins
    * the RESULT equals the plain unpartitioned query. At 100 TB this is
    * the ingest-layout decision that turns a full-corpus scan into a
    * one-partition read for type/date-sliced queries. `day` is exact
    * integer epoch-days from the nanos `ts` (engine-invariant); values
    * sum in DECIMAL.
    */
  def q232PartitionPrunedScan(s: SparkSession, d: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "graft_q232_events").toString
    events(s, d)
      .withColumn("day", expr("ts DIV 86400000000000"))
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    s.read.parquet(path)
      .filter(col("event_type") === "purchase")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------- q237
  /** Small-files compaction ([[operators.Compaction]]), completing the
    * write-governance trio (q231 bucketing, q232 partition layout):
    * events are deliberately sprayed across 64 tiny files, compacted
    * back to a 25k-rows-per-file target, and the rollup over the
    * COMPACTED copy must equal the plain query over the original
    * table — compaction is invisible to answers. MaintenanceSpec pins
    * the file arithmetic (out ≈ ceil(n/target) ≪ in, rows preserved).
    * Value sums in DECIMAL (exact, order-free).
    */
  def q237Compaction(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "graft_q237").toString
    events(s, d)
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("value"))
      .repartition(64).write.mode("overwrite").parquet(s"$base/in")
    operators.Compaction.compactParquet(s, s"$base/in", s"$base/out",
      targetRecords = 25000L)
    operators.Compaction.read(s, s"$base/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  private[graft] def queriesEvents: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_partition_pruned" -> (q232PartitionPrunedScan _),
    "q237_compaction" -> (q237Compaction _),
    "q37_event_windows" -> (q37EventWindows _),
    "q43_session_windows" -> (q43SessionWindows _),
    "q80_funnel" -> (q80Funnel _),
    "q88_debounce" -> (q88Debounce _),
    "q112_event_transitions" -> (q112EventTransitions _),
    "q114_decayed_engagement" -> (q114DecayedEngagement _),
    "q115_cohort_retention" -> (q115CohortRetention _),
    "q117_heavy_hitters" -> (q117HeavyHitters _),
    "q118_sessions" -> (q118Sessions _),
    "q120_resample" -> (q120Resample _),
    "q135_rolling_anomaly" -> (q135RollingAnomaly _),
    "q136_changepoint" -> (q136Changepoint _),
    "q145_funnel" -> (q145Funnel _),
    "q146_twa" -> (q146Twa _),
    "q157_user_trend" -> (q157UserTrend _),
    "q169_attribution" -> (q169Attribution _),
    "q190_conversion_delay" -> (q190ConversionDelay _),
    "q194_burstiness" -> (q194Burstiness _),
    "q198_seasonality" -> (q198Seasonality _),
    "q201_forget_cascade" -> (q201ForgetCascade _),
    "q202_journey_trigrams" -> (q202JourneyTrigrams _),
    "q203_transition_dwell" -> (q203TransitionDwell _),
    "q205_watermark_sizing" -> (q205WatermarkSizing _),
    "q216_cohort_retention" -> (q216CohortRetention _),
    "q223_transition_entropy" -> (q223TransitionEntropy _))

  private[graft] def oracleSqlEvents: Map[String, String] = Map(
    "q37_event_windows" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q43_session_windows" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |m AS (SELECT user_id, t, value,
        |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |       OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        | FROM e),
        |g AS (SELECT user_id, t, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS grp
        | FROM m)
        |SELECT min(t) AS session_start, user_id, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, grp ORDER BY user_id, session_start""".stripMargin,
    "q80_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |s AS (SELECT user_id, min(us) AS first_signup_us FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT ev.user_id, count(*) AS n_purch_7d
        |  FROM ev JOIN s ON s.user_id = ev.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.us > s.first_signup_us
        |    AND ev.us <= s.first_signup_us + 604800000000
        |  GROUP BY ev.user_id)
        |SELECT s.user_id, s.first_signup_us,
        | coalesce(p.n_purch_7d, 0) AS n_purch_7d,
        | CAST(coalesce(p.n_purch_7d, 0) > 0 AS BIGINT) AS converted
        |FROM s LEFT JOIN p ON p.user_id = s.user_id
        |ORDER BY s.user_id""".stripMargin,
    "q88_debounce" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |l AS (SELECT event_id, user_id, event_type, us,
        |  lag(us) OVER (PARTITION BY user_id, event_type
        |                ORDER BY us, event_id) AS prev_us FROM ev)
        |SELECT event_id, user_id, event_type, us FROM l
        |WHERE prev_us IS NULL OR us - prev_us >= 7200000000
        |ORDER BY event_id""".stripMargin,
    "q112_event_transitions" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |l AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |                         ORDER BY us, event_id) AS next_type
        | FROM ev),
        |tr AS (SELECT event_type AS from_type, next_type AS to_type,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |        FROM tr GROUP BY from_type)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |  round(CAST(tr.n AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS prob
        |FROM tr JOIN tot ON tot.from_type = tr.from_type
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,
    "q114_decayed_engagement" ->
      // decay factor rounded to 6dp, times DECIMAL(18,2) values,
      // summed in DECIMAL — exact totals on both engines.
      """WITH ev AS (SELECT user_id,
        |  CAST(value AS DECIMAL(18,2)) AS v,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |a AS (SELECT max(us) AS anchor FROM ev),
        |t AS (SELECT user_id, v,
        |  CAST(round(exp(CAST(us - anchor AS DOUBLE) / 604800000000.0), 6)
        |       AS DECIMAL(18,6)) AS w
        | FROM ev CROSS JOIN a)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(v * w) AS DOUBLE) + 0.0 AS decayed_value
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q115_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 604800000000 AS week
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
        |s AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM c GROUP BY cohort_week),
        |m AS (SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
        |        CAST(count(*) AS BIGINT) AS n_active
        |      FROM uw JOIN c ON c.user_id = uw.user_id
        |      GROUP BY 1, 2)
        |SELECT m.cohort_week, m.weeks_since, m.n_active, s.cohort_size,
        |  round(CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
        |    AS retention
        |FROM m JOIN s ON s.cohort_week = m.cohort_week
        |ORDER BY m.cohort_week, m.weeks_since""".stripMargin,
    "q117_heavy_hitters" ->
      // exact threshold set: the MG pass only prunes candidates, so
      // the oracle is a plain HAVING over exact counts
      s"""WITH tok AS (SELECT unnest($SqlToks) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM tok GROUP BY token
         |HAVING count(*) >= (SELECT greatest(count(*) // 200, 1) FROM tok)
         |ORDER BY token""".stripMargin,
    "q118_sessions" ->
      // NULL lag (first event per user) falls to the ELSE 1 branch on
      // both engines; (us, event_id) makes the within-user order total
      """WITH ev AS (SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |         <= 1800000000 THEN 0 ELSE 1 END AS is_new
        | FROM ev),
        |g AS (SELECT user_id, us,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        | FROM f)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  max(us) - min(us) AS duration_us
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q120_resample" ->
      """WITH ev AS (SELECT user_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000 AS day
        | FROM events),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        |         FROM (SELECT DISTINCT user_id FROM ev) CROSS JOIN sp),
        |c AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
        |      FROM ev GROUP BY user_id, day)
        |SELECT g.user_id, g.day, coalesce(c.n, CAST(0 AS BIGINT)) AS n_events
        |FROM grid g LEFT JOIN c ON c.user_id = g.user_id AND c.day = g.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    "q135_rolling_anomaly" ->
      // integer-cents arithmetic end to end: the 3-sigma test is the
      // cross-multiplied comparison (n·v − s)² > 9·(n·q − s²), exact
      // in BIGINT/HUGEINT — no float ever enters the flag
      """WITH ev AS (SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, value,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |w AS (SELECT user_id, event_id, us, value, vc,
        |  count(*) OVER win AS n,
        |  sum(vc) OVER win AS sv,
        |  sum(vc * vc) OVER win AS qv
        | FROM ev
        | WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, us, value, CAST(n AS BIGINT) AS window_n
        |FROM w
        |WHERE n >= 4
        |  AND (n*vc - sv)*(n*vc - sv) > 9*(n*qv - sv*sv)
        |ORDER BY user_id, us, event_id""".stripMargin,
    "q136_changepoint" ->
      // scaled cusum n·run_k − k·S in integer cents; argmax on the
      // exact statistic, ties to the earliest (us, event_id)
      """WITH ev AS (SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT user_id, event_id, us, vc,
        |  count(*) OVER win AS k, sum(vc) OVER win AS run
        | FROM ev
        | WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT user_id, max(k) AS n_events, sum(vc) AS s_total
        |      FROM r GROUP BY user_id),
        |c AS (SELECT r.user_id, r.event_id, r.us, r.k, t.n_events,
        |        abs(t.n_events * r.run - r.k * t.s_total) AS acusum
        |      FROM r JOIN t USING (user_id) WHERE r.k < t.n_events),
        |m AS (SELECT user_id, event_id, k, acusum, n_events,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY acusum DESC, us, event_id) AS rk
        |      FROM c)
        |SELECT user_id, event_id AS cp_event_id, CAST(k AS BIGINT) AS cp_index,
        |  CAST(acusum AS BIGINT) AS cusum_abs, CAST(n_events AS BIGINT) AS n_events
        |FROM m WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q145_funnel" ->
      // stage k = min-agg over events strictly after the user's
      // stage-(k-1) time; conversion is exact integer ppm (ordering
      // is unit-invariant, so µs here vs ns in Spark is immaterial)
      """WITH ev AS (SELECT user_id AS u, event_type AS t,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
        |  FROM events),
        |s0 AS (SELECT u, min(us) AS ts FROM ev WHERE t = 'view' GROUP BY u),
        |s1 AS (SELECT ev.u, min(ev.us) AS ts FROM ev JOIN s0 ON ev.u = s0.u
        |       WHERE ev.t = 'click' AND ev.us > s0.ts GROUP BY ev.u),
        |s2 AS (SELECT ev.u, min(ev.us) AS ts FROM ev JOIN s1 ON ev.u = s1.u
        |       WHERE ev.t = 'purchase' AND ev.us > s1.ts GROUP BY ev.u),
        |c AS (SELECT 0 AS i, 'view' AS stage, (SELECT count(*) FROM s0) AS n
        |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2))
        |SELECT CAST(i AS BIGINT) AS stage_idx, stage,
        |  CAST(n AS BIGINT) AS n_users,
        |  CAST(CASE WHEN i = 0 THEN 1000000
        |       WHEN lag(n) OVER (ORDER BY i) = 0 THEN 0
        |       ELSE n * 1000000 // lag(n) OVER (ORDER BY i) END AS BIGINT)
        |    AS conv_ppm
        |FROM c ORDER BY stage_idx""".stripMargin,
    "q146_twa" ->
      // value×duration accumulates in exact DECIMAL on both engines;
      // the one double division at the end is IEEE-deterministic
      """WITH ev AS (SELECT user_id AS u,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |    CAST(value AS DECIMAL(9,2)) AS v FROM events),
        |d AS (SELECT u, us, v,
        |    lead(us) OVER (PARTITION BY u ORDER BY us) - us AS dur FROM ev),
        |f AS (SELECT * FROM d WHERE dur IS NOT NULL)
        |SELECT u AS user_id, CAST(count(*) + 1 AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS span_us,
        |  round(CAST(sum(v * CAST(dur AS DECIMAL(18,0))) AS DOUBLE)
        |    / CAST(sum(dur) AS DOUBLE), 6) AS twa
        |FROM f GROUP BY u ORDER BY user_id""".stripMargin,
    "q157_user_trend" ->
      // five exact DECIMAL moments per user; closed-form ratios with
      // one double division each, rounded 6dp
      """WITH ev AS (SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |    CAST(value AS DECIMAL(9,2)) AS y FROM events),
        |o AS (SELECT user_id,
        |    (us - min(us) OVER (PARTITION BY user_id)) // 1000000 AS x, y
        |  FROM ev),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS DECIMAL(19,2)) AS sy,
        |    CAST(sum(y * CAST(x AS DECIMAL(12,0))) AS DECIMAL(31,2)) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM o GROUP BY user_id),
        |f AS (SELECT user_id, n, sx, sy, sxy, sxx,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS den FROM m
        |  WHERE n >= 2)
        |SELECT user_id, n,
        |  round(CAST(CAST(n AS DECIMAL(4,0)) * sxy
        |      - CAST(sx AS DECIMAL(16,0)) * sy AS DOUBLE)
        |    / den, 6) + 0.0 AS slope,
        |  round(CAST(CAST(sy AS DECIMAL(10,2)) * sxx
        |      - CAST(sx AS DECIMAL(16,0)) * CAST(sxy AS DECIMAL(19,2))
        |      AS DOUBLE) / den, 6) + 0.0 AS intercept
        |FROM f WHERE den <> 0 ORDER BY user_id""".stripMargin,
    "q169_attribution" ->
      // as-of attribution replayed as the union-window last_value;
      // revenue sums in DECIMAL, one double cast at the end
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |u AS (SELECT user_id, us, 1 AS side, v,
        |    CAST(NULL AS VARCHAR) AS tt FROM ev WHERE event_type = 'purchase'
        |  UNION ALL SELECT user_id, us, 0, CAST(NULL AS DECIMAL(18,2)),
        |    event_type FROM ev WHERE event_type IN ('click', 'view')),
        |w AS (SELECT user_id, us, side, v,
        |    last_value(tt IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY us, side ROWS UNBOUNDED PRECEDING) AS tt
        |  FROM u)
        |SELECT coalesce(tt, 'direct') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(v) AS DOUBLE) AS revenue
        |FROM w WHERE side = 1 GROUP BY 1 ORDER BY channel""".stripMargin,
    "q190_conversion_delay" ->
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |sg AS (SELECT user_id, min(us) AS sus FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT p.user_id, sg.sus, min(p.us) AS pus FROM ev p
        |  JOIN sg ON sg.user_id = p.user_id AND p.us >= sg.sus
        |  WHERE p.event_type = 'purchase' GROUP BY 1, 2),
        |dl AS (SELECT ((sus // 86400000000) + 4) % 7 AS wd,
        |  pus - sus AS delay_us FROM fp),
        |rk AS (SELECT wd, delay_us,
        |  row_number() OVER (PARTITION BY wd ORDER BY delay_us) AS r FROM dl),
        |nn AS (SELECT wd, count(*) AS n FROM dl GROUP BY wd),
        |tt AS (SELECT wd, n, q, CAST(ceil(q * n) AS BIGINT) AS r FROM
        |  (SELECT wd, n, unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |    CAST(0.99 AS DOUBLE)]) AS q FROM nn)),
        |pick AS (SELECT tt.wd, tt.n, tt.q, rk.delay_us FROM tt
        |  JOIN rk ON rk.wd = tt.wd AND rk.r = tt.r)
        |SELECT wd,
        | CAST(max(CASE WHEN q = 0.5 THEN delay_us END) AS BIGINT) AS p50_us,
        | CAST(max(CASE WHEN q = 0.9 THEN delay_us END) AS BIGINT) AS p90_us,
        | CAST(max(CASE WHEN q = 0.99 THEN delay_us END) AS BIGINT) AS p99_us,
        | CAST(max(n) AS BIGINT) AS n
        |FROM pick GROUP BY wd ORDER BY wd""".stripMargin,
    "q194_burstiness" ->
      """WITH ev AS (SELECT user_id, event_type, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |g AS (SELECT event_type, us - lag(us) OVER
        |  (PARTITION BY user_id, event_type ORDER BY us, event_id) AS gap
        | FROM ev),
        |f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        |m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(gap AS DECIMAL(19,0))) AS DECIMAL(20,0)) AS s1,
        |  CAST(sum(CAST(CAST(gap AS DECIMAL(19,0)) *
        |    CAST(gap AS DECIMAL(19,0)) AS DECIMAL(38,0)))
        |    AS DECIMAL(34,0)) AS s2
        | FROM f GROUP BY 1),
        |x AS (SELECT event_type, n, s1,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |  sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS sd
        | FROM m)
        |SELECT event_type, n, CAST(s1 AS BIGINT) // n AS mean_gap_us,
        | CASE WHEN sd + mu = CAST(0 AS DOUBLE) THEN NULL
        |   ELSE round((sd - mu) / (sd + mu), 6) + CAST(0 AS DOUBLE)
        |   END AS burstiness
        |FROM x ORDER BY event_type""".stripMargin,
    "q198_seasonality" ->
      // part x weekday chi-square over the top-10 parts; weekday from
      // epoch-day arithmetic (engine dayofweek conventions differ);
      // full-grid zero cells per the q176 operator contract
      """WITH rows0 AS (SELECT DISTINCT l.l_orderkey AS ok,
        |  l.l_partkey AS pk FROM lineitem l),
        |rws AS (SELECT r.pk,
        |  ((CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' + 4) % 7) AS wd
        | FROM rows0 r JOIN orders o ON o.o_orderkey = r.ok),
        |top AS (SELECT pk FROM (SELECT pk, count(*) AS n FROM rws
        |  GROUP BY pk ORDER BY n DESC, pk LIMIT 10)),
        |f AS (SELECT CAST(rws.pk AS BIGINT) AS a, wd AS b FROM rws
        |  JOIN top ON top.pk = rws.pk),
        |cells AS (SELECT a, b, count(*) AS o FROM f GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b FROM cells),
        |grid AS (SELECT rt.a, ct.b, rt.r, ct.c, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
        |terms AS (SELECT t.n, t.n_a, t.n_b,
        |  CAST(round(CAST(CAST(g.o * t.n - g.r * g.c AS DECIMAL(19,0)) *
        |      CAST(g.o * t.n - g.r * g.c AS DECIMAL(19,0)) AS DOUBLE) /
        |    CAST(t.n * g.r * g.c AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
        | FROM grid g CROSS JOIN tot t),
        |agg AS (SELECT n, n_a, n_b, CAST(sum(term) AS DECIMAL(28,6)) AS chi2d
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n, n_a, n_b, CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
        |  CAST(chi2d AS DOUBLE) AS chi2,
        |  CASE WHEN least(n_a, n_b) <= 1 THEN NULL
        |    ELSE round(sqrt(CAST(chi2d AS DOUBLE) /
        |      CAST(n * (least(n_a, n_b) - 1) AS DOUBLE)), 6) END AS cramers_v
        |FROM agg""".stripMargin,
    "q201_forget_cascade" ->
      """WITH f AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_custkey % 97 = 0),
        |ck AS (SELECT count(*) AS n FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM f WHERE f.k = c.c_custkey)),
        |ok AS (SELECT count(*) AS n FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM f WHERE f.k = o.o_custkey)),
        |okeys AS (SELECT o_orderkey FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM f WHERE f.k = o.o_custkey)),
        |lk AS (SELECT count(*) AS n FROM lineitem l
        |  WHERE EXISTS (SELECT 1 FROM okeys WHERE o_orderkey = l.l_orderkey)),
        |r AS (
        | SELECT 'customer' AS table_name,
        |  (SELECT count(*) FROM customer) AS n_total,
        |  (SELECT n FROM ck) AS n_kept
        | UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
        |  (SELECT n FROM lk)
        | UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
        |  (SELECT n FROM ok))
        |SELECT table_name, n_total, n_kept, n_total - n_kept AS n_removed
        |FROM r ORDER BY table_name""".stripMargin,
    "q202_journey_trigrams" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |j AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER w AS step2,
        |  lead(event_type, 2) OVER w AS step3
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT step1, step2, step3, count(*) AS n
        |FROM j WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,
    "q203_transition_dwell" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |j AS (SELECT event_type AS from_type,
        |  lead(event_type, 1) OVER w AS to_type,
        |  lead(us, 1) OVER w - us AS gap
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT from_type, to_type, count(*) AS n,
        | CAST(CAST(sum(CAST(gap AS DECIMAL(19,0))) AS BIGINT)
        |   AS BIGINT) // count(*) AS mean_gap_us,
        | CAST(max(gap) AS BIGINT) AS max_gap_us
        |FROM j WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "q205_watermark_sizing" ->
      """WITH ev AS (SELECT event_type, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |l AS (SELECT event_type,
        |  greatest(max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us, 0)
        |    AS late
        | FROM ev)
        |SELECT event_type, count(*) AS n,
        | CAST(coalesce(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_late,
        | CAST(max(late) AS BIGINT) AS max_late_us,
        | CAST(CAST(sum(CAST(late AS DECIMAL(19,0))) AS BIGINT) AS BIGINT)
        |   // count(*) AS mean_late_us
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q216_cohort_retention" ->
      // first-activity DAY cohorts (epoch days); exact integer ppm
      """WITH ev AS (SELECT user_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS p
        | FROM events),
        |f AS (SELECT user_id, min(p) AS cohort FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, p FROM ev),
        |cnt AS (SELECT f.cohort, act.p - f.cohort AS k,
        |  count(*) AS n_active
        | FROM act JOIN f ON f.user_id = act.user_id GROUP BY 1, 2),
        |sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort)
        |SELECT cnt.cohort, cnt.k, cnt.n_active, sz.cohort_size,
        | CAST(cnt.n_active * 1000000 // sz.cohort_size AS BIGINT)
        |   AS retention_ppm
        |FROM cnt JOIN sz ON sz.cohort = cnt.cohort
        |ORDER BY cnt.cohort, cnt.k""".stripMargin,
    "q223_transition_entropy" ->
      // q203's transition frame; per-pair c*round(ln(c/ca),6) summed
      // in DECIMAL; H = -sum/T
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |tr AS (SELECT event_type AS a,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS b
        | FROM ev),
        |p AS (SELECT a, b, count(*) AS c FROM tr WHERE b IS NOT NULL
        |  GROUP BY 1, 2),
        |ft AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM p GROUP BY a),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS n_pairs
        |  FROM p),
        |terms AS (SELECT tot.t, tot.n_pairs,
        |  CAST(p.c * CAST(round(ln(CAST(p.c AS DOUBLE)
        |      / CAST(ft.ca AS DOUBLE)), 6) AS DECIMAL(18,6))
        |    AS DECIMAL(28,6)) AS term
        | FROM p JOIN ft USING (a) CROSS JOIN tot),
        |agg AS (SELECT t, n_pairs, CAST(sum(term) AS DECIMAL(28,6)) AS s
        |  FROM terms GROUP BY 1, 2)
        |SELECT t AS n_transitions, n_pairs, CAST(s AS DOUBLE) AS sum_clogp,
        | round(-CAST(s AS DOUBLE) / CAST(t AS DOUBLE) + 0.0, 6) AS cond_entropy
        |FROM agg""".stripMargin,
    "q232_partition_pruned" ->
      // the partitioned layout is plan-side only — results must equal
      // the plain filtered aggregate over the original table
      """SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
        |   // 86400000000 AS day,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q237_compaction" ->
      // compaction must be invisible: the rollup over the compacted
      // copy equals the plain query over the original table
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
}
