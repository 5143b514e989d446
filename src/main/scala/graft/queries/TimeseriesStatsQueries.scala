package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series statistics queries — EWMA, ACF/CCF, Holt and
  * Holt-Winters smoothing, seasonal strength, survival analysis,
  * Heaps'-law growth, and matrix-profile motif/discord discovery.
  * Split out of [[StatsQueries]] in round 12; self-typed to
  * [[SparkEntry]] (see [[StatsQueries]]). Contributes
  * [[queriesStatsTs]] / [[oracleSqlStatsTs]].
  */
private[graft] trait TimeseriesStatsQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q131
  /** Kaplan–Meier churn survival over user lifetimes: duration = first
    * to last event in whole days; users still active in the last 7
    * days of the corpus are right-censored (their lifetime is a lower
    * bound, exactly the estimator's reason to exist). At each distinct
    * duration the at-risk count comes from prefix sums over the
    * duration-distinct frame (≤ |users| rows — the one unpartitioned
    * window here is aggregation-sized, not corpus-sized), and the
    * survival product uses the q100 log discipline: per-factor
    * `round(ln(1−d/n), 6)` summed in DECIMAL, exponentiated once —
    * engine-exact, with an explicit zero once a stratum exhausts its
    * risk set.
    */
  def q131Survival(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = events(s, d).select(col("user_id"), expr("ts DIV 1000").as("us"))
    val anchor = ev.agg(max(col("us")).as("end_us"))
    val life = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .crossJoin(broadcast(anchor))
      .select(expr(s"(last_us - first_us) DIV $dayUs").as("t"),
        (col("end_us") - col("last_us") < lit(7L * dayUs)).as("censored"))
    val strata = life.groupBy(col("t"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    strata
      .crossJoin(broadcast(life.agg(count(lit(1)).as("n_total"))))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("alive", min(when(col("d") < col("n_risk"), 1L).otherwise(0L))
        .over(w))
      .withColumn("logterm",
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")), 6).cast("decimal(18,6)"))
          .otherwise(lit(null)))
      .withColumn("surv",
        when(col("alive") === 1L,
          round(exp(sum(col("logterm")).over(w).cast("double")), 6))
          .otherwise(lit(0.0)))
      .select(col("t").as("t_days"), col("n_risk"), col("d"), col("c"),
        col("surv"))
      .orderBy(col("t_days"))
  }

  // ---------------------------------------------------------------- q178
  /** Exact dyadic EWMA (α = 1/2, trailing 8) of per-user event value
    * cents ordered by (ts, event_id) ([[operators.Ewma.dyadicEwma]]):
    * power-of-two weights make the smoothed series exact integer
    * arithmetic — bit-portable, unlike recursive float EWMA. Users
    * < 100 keep the output row count bounded.
    */
  def q178Ewma(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("user_id") < 100)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("__ord", struct(col("us"), col("event_id")))
    operators.Ewma.dyadicEwma(ev, "user_id", "__ord", "cents", window = 8)
      .select(col("user_id"), col("event_id"), col("us"), col("cents"),
        col("ewma"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  // ---------------------------------------------------------------- q257
  /** Autocorrelation of daily order revenue at lags 1..7
    * ([[operators.Autocorrelation.acf]]) — the seasonality/memory
    * screen q198's day-of-week index can't give (ACF sees ALL lags,
    * not a fixed weekly grid). Revenue is exact daily cents (BIGINT);
    * deviations are n-scaled integers so numerator and denominator
    * are DECIMAL(38,0)-exact and the only IEEE op is the final
    * divide. One scan of orders builds the |days|-sized series; the
    * ordering window and all seven lags run on that bounded frame in
    * a single window pass.
    */
  def q257Acf(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.Autocorrelation.acf(daily, "day", "cents", maxLag = 7)
  }

  // ---------------------------------------------------------------- q264
  /** Holt linear-trend smoothing of daily revenue per order priority
    * ([[operators.Holt.linearTrend]], α=1/5 β=1/10): EWMA q178 gave
    * level-only smoothing; Holt tracks level AND trend, and the
    * published `forecast_next = level + trend` is the one-step-ahead
    * forecast a metric monitor alerts against. The recurrence runs in
    * exact integer cents (half-toward-+∞ rounding via the offset
    * floor-div identity), so all ~2,400 steps per series replay
    * bit-identically in the oracle's recursive CTE. Five priorities =
    * five independent series folded in parallel; the fold input is
    * the |days|-sized pre-aggregation, scanned once.
    */
  def q264HoltTrend(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.Holt.linearTrend(daily, "priority", "day", "cents")
  }

  // ---------------------------------------------------------------- q265
  /** Vocabulary-growth audit with a Heaps'-law fit — V(n) ≈ K·n^β
    * over ten cumulative corpus prefixes (β ≈ 0.5 for natural text;
    * β ≈ 0 = CLOSED vocabulary, the template/synthetic-corpus
    * signature — which is exactly what this driver corpus shows, and
    * exactly the datacard finding the curve exists to surface).
    * Publishes the ten (n_tokens, vocab) points with the fit
    * attached. Prefixes are doc_id cutoffs (p·(max_id+1)/10); each
    * token's FIRST doc id decides which prefixes count it, so one
    * scan + one vocab-sized aggregation yields all ten points — no
    * per-prefix rescan. OLS on 6-dp-rounded lns held in DECIMAL (the
    * q170 discipline); a constant-vocab curve fits β = +0.0 exactly
    * (zero numerator over a varying-x denominator) on both engines.
    */
  def q265HeapsLaw(s: SparkSession, d: String): DataFrame = {
    val toks = operators.Retained.track(documents(s, d)
      .select(col("doc_id"),
        explode(functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .persist())
    val cuts = documents(s, d).agg(max(col("doc_id")).as("mx"))
      .select(explode(sequence(lit(1), lit(10))).as("p"), col("mx"))
      .select(col("p").cast("long").as("p"),
        expr("p * (mx + 1) DIV 10").as("cut"))
    val firsts = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val vocab = firsts.crossJoin(broadcast(cuts))
      .filter(col("fd") < col("cut"))
      .groupBy(col("p")).agg(count(lit(1)).as("vocab"))
    // aggregate per-doc token counts FIRST (the same collapse-then-
    // fan-out trick as the FIRST-doc-id vocab side): the 10-way cut
    // fanout flows |docs| rows, not 10× the exploded corpus
    val ntok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(cuts))
      .filter(col("doc_id") < col("cut"))
      .groupBy(col("p")).agg(sum(col("__c")).cast("long").as("n_tokens"))
    val pp = ntok.join(vocab, Seq("p"))
      .filter(col("n_tokens") > 0 && col("vocab") > 0)
    val pts = pp
      .withColumn("x", round(log(col("n_tokens").cast("double")), 6)
        .cast("decimal(8,6)"))
      .withColumn("y", round(log(col("vocab").cast("double")), 6)
        .cast("decimal(8,6)"))
    val fit = pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).cast("decimal(12,6)").as("sx"),
        sum(col("y")).cast("decimal(12,6)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(20,12)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(20,12)").as("sxx"))
      .withColumn("beta",
        (col("n_points").cast("decimal(3,0)") * col("sxy") -
          col("sx") * col("sy")).cast("double") /
          (col("n_points").cast("decimal(3,0)") * col("sxx") -
            col("sx") * col("sx")).cast("double"))
      .select(col("n_points"),
        (round(col("beta"), 6) + 0.0).as("heaps_beta"),
        (round((col("sy").cast("double") - col("beta") *
          col("sx").cast("double")) / col("n_points").cast("double"), 6)
          + 0.0).as("heaps_ln_k"))
    pp.select(col("p"), col("n_tokens"), col("vocab"))
      .crossJoin(broadcast(fit)) // 1-row build side: scalar attach
      .orderBy(col("p"))
  }

  // ---------------------------------------------------------------- q277
  /** Holt–Winters additive seasonal smoothing
    * ([[operators.Holt.seasonalTrend]], m=12, α=1/4 β=1/10 γ=1/5) of
    * monthly revenue per priority — the full classical forecasting
    * triple on top of q264's level+trend: the seasonal vector answers
    * "is this month's dip THE DECEMBER DIP or a real downturn?". The
    * whole (level, trend, 12-slot seasonal) state runs in exact
    * integer cents with half-toward-+∞ rounding, so ~70 steps × 5
    * series replay bit-identically in the oracle's recursive CTE —
    * which carries the seasonal window as a LIST column, sliced and
    * appended each step.
    */
  def q277HoltWinters(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        (year(to_date(col("o_orderdate"))) * 100 +
          month(to_date(col("o_orderdate")))).cast("long").as("ym"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.Holt.seasonalTrend(monthly, "priority", "ym", "cents",
      period = 12)
  }

  // ---------------------------------------------------------------- q278
  /** Seasonal-strength audit: per priority, the total one-step
    * absolute error of the SEASONAL-naive forecast (x̂_t = x_{t−12})
    * vs the plain naive (x̂_t = x_{t−1}) over the months where both
    * exist — the standard denominator pair under MASE, and the
    * decision input for q277: a ratio well under 1e6 ppm says the
    * 12-month shape carries real signal worth a seasonal state. Two
    * window lags on the calendar-bounded monthly frame, exact cent
    * sums, one integer-ppm division.
    */
  def q278SeasonalStrength(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        (year(to_date(col("o_orderdate"))) * 100 +
          month(to_date(col("o_orderdate")))).cast("long").as("ym"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    val w = Window.partitionBy("priority").orderBy("ym")
    monthly
      .withColumn("__i", row_number().over(w))
      .withColumn("__l1", lag(col("cents"), 1).over(w))
      .withColumn("__l12", lag(col("cents"), 12).over(w))
      .filter(col("__i") > 12)
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_months"),
        sum(abs(col("cents") - col("__l1"))).as("sum_abs_naive"),
        sum(abs(col("cents") - col("__l12"))).as("sum_abs_seasonal"))
      // ppm in DECIMAL(28) headroom — 1e6·Σ|e| wraps a BIGINT once the
      // error mass passes ~9e12 cents (the temperature-mix lesson)
      .withColumn("seasonal_strength_ppm",
        when(col("sum_abs_naive") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(sum_abs_seasonal AS DECIMAL(28,0)) * 1000000)" +
              " DIV sum_abs_naive AS BIGINT)")))
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------- q279
  /** Cross-correlation function ([[operators.Autocorrelation.ccf]],
    * lags −7..+7) between daily revenue and daily order count — the
    * lead-lag companion to q257's ACF ("do order-count spikes LEAD
    * revenue, trail it, or just coincide?"), the standard first look
    * before any causal read of two metrics. Same exactness scheme:
    * n-scaled DECIMAL deviations, exact moment sums, one rounded
    * float per lag; lag pairing is by observed-period row index on
    * both engines (the q257 convention).
    */
  def q279Ccf(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"),
        count(lit(1)).as("n_orders"))
    operators.Autocorrelation.ccf(daily, "day", "cents", "n_orders",
      maxLag = 7)
  }

  // ---------------------------------------------------------------- q280
  /** Time-series motif & discord discovery
    * ([[operators.MotifProfile.motifDiscord]], w=7) over the daily
    * revenue series: the closest pair of non-overlapping weeks (the
    * repeating shape) and the week whose nearest neighbor is farthest
    * (the one-off anomaly) — the two matrix-profile questions, in
    * exact BIGINT squared distance so both argext rows are
    * unambiguous and fully relational. The ~2,400-row window frame is
    * calendar-bounded; the O(n²) pair expansion is the definition.
    */
  def q280MotifDiscord(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.MotifProfile.motifDiscord(daily, "day", "cents",
      windowLen = 7)
  }

  // ---------------------------------------------------------------- q302
  /** SAX symbolic motifs of the daily revenue series per priority
    * ([[operators.Sax.topWords]]): z-normalize, discretize into the
    * a–d quartile alphabet, and count 3-day symbol words — the
    * SYMBOLIC face of motif discovery next to q280's numeric matrix
    * profile: lossy but joinable/groupable at warehouse speed, the
    * classic pre-filter before an exact profile pass. Moments exact
    * DECIMAL; each z-score/symbol a fixed per-row tree; the word
    * window runs on the calendar-bounded daily frame.
    */
  def q302SaxMotifs(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.Sax.topWords(daily, "priority", "day", "cents",
      w = 3, topPerKey = 3)
  }

  // ---------------------------------------------------------------- q307
  /** Log-rank test of churn between the md5 experiment arms
    * ([[operators.SurvivalTests.logRank]]) — the significance
    * companion to q131's Kaplan–Meier curve: same lifetimes, same
    * right-censoring rule (users active in the final 7 days leave
    * the risk set without counting as churn), and the Mantel–Cox χ²
    * over the per-time hypergeometric tables. Windows run only on
    * the duration-distinct grid (the q131 contract).
    */
  def q307Logrank(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), expr("ts DIV 1000").as("us"))
    val anchor = ev.agg(max(col("us")).as("end_us"))
    val life = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .crossJoin(broadcast(anchor))
      .select(
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2 === 0L).as("arm"),
        expr(s"(last_us - first_us) DIV $dayUs").as("t"),
        (col("end_us") - col("last_us") >= lit(7L * dayUs)).as("churned"))
    operators.SurvivalTests.logRank(life, "arm", "t", "churned")
  }

  private[graft] def queriesStatsTs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q302_sax_motifs" -> (q302SaxMotifs _),
    "q307_logrank" -> (q307Logrank _),
    "q131_survival" -> (q131Survival _),
    "q178_ewma" -> (q178Ewma _),
    "q257_acf" -> (q257Acf _),
    "q264_holt_trend" -> (q264HoltTrend _),
    "q265_heaps_law" -> (q265HeapsLaw _),
    "q277_holt_winters" -> (q277HoltWinters _),
    "q278_seasonal_strength" -> (q278SeasonalStrength _),
    "q279_ccf" -> (q279Ccf _),
    "q280_motif_discord" -> (q280MotifDiscord _))

  /** q277's level update as inline SQL (rdiv((x−s_old)+3(l+b), 4) on
    * the offset-shifted numerator); referenced three times per step. */
  private def hwLnew: String =
    "((2 * ((n.x - s.sv[1]) + 3 * (s.l + s.b)) + 4" +
      " + 8 * 100000000000000) // 8 - 100000000000000)"

  private[graft] def oracleSqlStatsTs: Map[String, String] = Map(
    "q307_logrank" ->
      // q131's lifetime/censoring construction; at-risk suffix sums on
      // the (time × group) grid; E1/V one rounded float tree per event
      // time, re-summed in DECIMAL(18,6)
      """WITH ev AS (SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |anchor AS (SELECT max(us) AS end_us FROM ev),
        |life AS (SELECT
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 2 = 0 AS g,
        |    (max(us) - min(us)) // 86400000000 AS t,
        |    end_us - max(us) >= 7 * 86400000000 AS e
        |  FROM ev CROSS JOIN anchor GROUP BY user_id, end_us),
        |pergt AS (SELECT g, t,
        |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM life GROUP BY 1, 2),
        |grid AS (SELECT gg.g, tt.t, coalesce(p.d, 0) AS d,
        |    coalesce(p.c, 0) AS c
        |  FROM (SELECT DISTINCT t FROM pergt) tt
        |  CROSS JOIN (SELECT DISTINCT g FROM pergt) gg
        |  LEFT JOIN pergt p ON p.g = gg.g AND p.t = tt.t),
        |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS tot
        |  FROM life GROUP BY 1),
        |ar AS (SELECT grid.g, grid.t, grid.d,
        |    tot.tot - coalesce(sum(grid.d + grid.c) OVER (
        |      PARTITION BY grid.g ORDER BY grid.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS nrisk
        |  FROM grid JOIN tot USING (g)),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN g THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(d) AS BIGINT) AS dt,
        |    CAST(sum(CASE WHEN g THEN nrisk ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(nrisk) AS BIGINT) AS nt
        |  FROM ar GROUP BY t),
        |ft AS (SELECT * FROM bt WHERE dt > 0 AND nt > 1),
        |terms AS (SELECT d1,
        |    CAST(round(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(nt AS DOUBLE), 6) AS DECIMAL(18,6)) AS e1r,
        |    CAST(round(CAST(dt AS DOUBLE)
        |      * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (CAST(1 AS DOUBLE) - CAST(n1 AS DOUBLE)
        |        / CAST(nt AS DOUBLE))
        |      * CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS vr
        |  FROM ft),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
        |    CAST(sum(d1) AS BIGINT) AS o1, sum(e1r) AS e1s, sum(vr) AS vs
        |  FROM terms),
        |cn AS (SELECT
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
        |    CAST(sum(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n_0
        |  FROM life)
        |SELECT n_1, n_0, n_times, o1,
        |  CAST(e1s AS DOUBLE) + 0.0 AS e1_sum,
        |  CAST(vs AS DOUBLE) + 0.0 AS var_sum,
        |  CASE WHEN vs > 0.0 THEN
        |    round((CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE))
        |      * (CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE))
        |      / CAST(vs AS DOUBLE), 6) + 0.0 END AS chi2
        |FROM sm CROSS JOIN cn""".stripMargin,
    "q302_sax_motifs" ->
      // population σ from exact DECIMAL moments (the big Σy² hops
      // DECIMAL→VARCHAR→DOUBLE — DuckDB's direct int128→double cast
      // is 1 ulp off past 2^53); N(0,1) quartile-breakpoint literals
      // shared with Sax.topWords; NULL-propagating || drops tail words
      """WITH dd AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |st AS (SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(y AS DECIMAL(19,0))) AS s,
        |    sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
        |      AS ss
        |  FROM dd GROUP BY 1),
        |sp AS (SELECT priority,
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m2
        |  FROM st),
        |sg AS (SELECT priority, mu, sqrt(m2 - mu * mu) AS sig FROM sp),
        |z AS (SELECT dd.priority, dd.day,
        |    (CAST(dd.y AS DOUBLE) - sg.mu) / sg.sig AS zv
        |  FROM dd JOIN sg USING (priority) WHERE sg.sig > 0),
        |sym AS (SELECT priority, day,
        |    CASE WHEN zv < -CAST(0.6744897501960817 AS DOUBLE) THEN 'a'
        |      WHEN zv < CAST(0 AS DOUBLE) THEN 'b'
        |      WHEN zv < CAST(0.6744897501960817 AS DOUBLE) THEN 'c'
        |      ELSE 'd' END AS sy
        |  FROM z),
        |wd AS (SELECT priority,
        |    sy || lead(sy, 1) OVER w || lead(sy, 2) OVER w AS word
        |  FROM sym WINDOW w AS (PARTITION BY priority ORDER BY day)),
        |ct AS (SELECT priority, word, CAST(count(*) AS BIGINT) AS n
        |  FROM wd WHERE length(word) = 3 GROUP BY 1, 2),
        |rk AS (SELECT priority, word, n,
        |    CAST(row_number() OVER (PARTITION BY priority
        |      ORDER BY n DESC, word) AS BIGINT) AS rk
        |  FROM ct)
        |SELECT priority, word, n, rk FROM rk WHERE rk <= 3
        |ORDER BY priority, rk""".stripMargin,
    "q280_motif_discord" -> {
      val ssd = (0 until 7).map(j =>
        s"CAST(a.w$j - b.w$j AS HUGEINT) * (a.w$j - b.w$j)")
        .mkString(" + ")
      val leads = (1 until 7).map(j =>
        s"lead(cents, $j) OVER (ORDER BY day) AS w$j").mkString(",\n        |    ")
      // squared distances summed in HUGEINT (the Spark side uses
      // DECIMAL(38)); the published ssd is the exact value cast to
      // DOUBLE after selection; nearest-neighbor ties resolve to the
      // smallest j exactly as the Spark struct-min does
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY 1),
         |wins AS (SELECT row_number() OVER (ORDER BY day) AS i,
         |    cents AS w0,
         |    $leads
         |  FROM daily),
         |ww AS MATERIALIZED (SELECT * FROM wins WHERE w6 IS NOT NULL),
         |p AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |    $ssd AS ssd
         |  FROM ww a JOIN ww b ON abs(a.i - b.i) >= 7),
         |motif AS (SELECT 'motif' AS kind, i AS idx_a, j AS idx_b, ssd
         |  FROM p WHERE i < j ORDER BY ssd, i, j LIMIT 1),
         |nn AS (SELECT i, min(ssd) AS nn FROM p GROUP BY i),
         |nnj AS (SELECT p.i, nn.nn, min(p.j) AS j
         |  FROM p JOIN nn ON nn.i = p.i AND p.ssd = nn.nn
         |  GROUP BY p.i, nn.nn),
         |disc AS (SELECT 'discord' AS kind, i AS idx_a, j AS idx_b,
         |    nn AS ssd
         |  FROM nnj ORDER BY nn DESC, i LIMIT 1)
         |SELECT kind, CAST(idx_a AS BIGINT) AS idx_a,
         |  CAST(idx_b AS BIGINT) AS idx_b, CAST(ssd AS DOUBLE) AS ssd
         |FROM (SELECT * FROM motif UNION ALL SELECT * FROM disc)
         |ORDER BY kind, idx_a""".stripMargin
    },
    "q279_ccf" ->
      // two n-scaled deviation columns off one daily frame; lag k
      // pairs a.t with b.t = a.t + k over the row index (q257's
      // convention), DECIMAL-exact num/denx/deny, one rounded float
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(n_orders) AS BIGINT) AS sy FROM daily),
        |dev AS (SELECT row_number() OVER (ORDER BY day) AS t,
        |    CAST(tot.n * daily.cents - tot.sx AS DECIMAL(19,0)) AS dx,
        |    CAST(tot.n * daily.n_orders - tot.sy AS DECIMAL(19,0)) AS dy
        |  FROM daily, tot),
        |den AS (SELECT sum(dx * dx) AS denx, sum(dy * dy) AS deny
        |  FROM dev),
        |num AS (SELECT k.k AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(a.dx * b.dy) AS num
        |  FROM (VALUES (-7), (-6), (-5), (-4), (-3), (-2), (-1), (0),
        |    (1), (2), (3), (4), (5), (6), (7)) k(k)
        |  JOIN dev a ON TRUE
        |  JOIN dev b ON b.t = a.t + k.k
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN den.denx = 0 OR den.deny = 0 THEN NULL
        |    ELSE round(CAST(num AS DOUBLE)
        |      / sqrt(CAST(den.denx AS DOUBLE) * CAST(den.deny AS DOUBLE)),
        |      6) + 0.0
        |  END AS ccf
        |FROM num, den ORDER BY lag""".stripMargin,
    "q278_seasonal_strength" ->
      // months where BOTH lags exist (i > 12); exact cent error sums,
      // one positive integer-ppm division (Spark DIV ≡ DuckDB //)
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 100
        |      + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS ym,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT priority, ym, cents,
        |    row_number() OVER (PARTITION BY priority ORDER BY ym) AS i,
        |    lag(cents, 1) OVER (PARTITION BY priority ORDER BY ym)
        |      AS l1,
        |    lag(cents, 12) OVER (PARTITION BY priority ORDER BY ym)
        |      AS l12
        |  FROM d),
        |g AS (SELECT priority, CAST(count(*) AS BIGINT) AS n_months,
        |    CAST(sum(abs(cents - l1)) AS BIGINT) AS sum_abs_naive,
        |    CAST(sum(abs(cents - l12)) AS BIGINT) AS sum_abs_seasonal
        |  FROM l WHERE i > 12 GROUP BY 1)
        |SELECT priority, n_months, sum_abs_naive, sum_abs_seasonal,
        |  CASE WHEN sum_abs_naive = 0 THEN NULL
        |    ELSE CAST((1000000 * CAST(sum_abs_seasonal AS HUGEINT))
        |      // sum_abs_naive AS BIGINT)
        |  END AS seasonal_strength_ppm
        |FROM g ORDER BY priority""".stripMargin,
    "q277_holt_winters" ->
      // the triple recurrence replayed step by step; the 12-slot
      // seasonal window rides the recursion as a LIST column
      // (sv[2:12] || [s_new]); level inlined where b/s need it
      s"""WITH RECURSIVE d AS (SELECT o_orderpriority AS k,
         |    CAST(year(CAST(o_orderdate AS DATE)) * 100
         |      + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS x
         |  FROM orders GROUP BY 1, 2),
         |idx AS MATERIALIZED (SELECT k, t, x,
         |    row_number() OVER (PARTITION BY k ORDER BY t) AS i FROM d),
         |init AS (SELECT k,
         |    CAST((2 * sum(x) + 12 + 24 * 100000000000000) // 24
         |      - 100000000000000 AS BIGINT) AS l0
         |  FROM idx WHERE i <= 12 GROUP BY k),
         |sv0 AS (SELECT idx.k,
         |    list(idx.x - init.l0 ORDER BY idx.i) AS sv
         |  FROM idx JOIN init ON init.k = idx.k WHERE idx.i <= 12
         |  GROUP BY idx.k),
         |seq(k, i, l, b, sv, t, x, snew) AS (
         |  SELECT init.k, CAST(12 AS BIGINT), init.l0,
         |    CAST(0 AS BIGINT), sv0.sv, CAST(NULL AS BIGINT),
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM init JOIN sv0 ON sv0.k = init.k
         |  UNION ALL
         |  SELECT n.k, n.i,
         |    $hwLnew,
         |    (2 * (($hwLnew - s.l) + 9 * s.b) + 10
         |      + 20 * 100000000000000) // 20 - 100000000000000,
         |    s.sv[2:12] || [CAST((2 * ((n.x - $hwLnew) + 4 * s.sv[1])
         |      + 5 + 10 * 100000000000000) // 10 - 100000000000000
         |      AS BIGINT)],
         |    n.t, n.x,
         |    (2 * ((n.x - $hwLnew) + 4 * s.sv[1]) + 5
         |      + 10 * 100000000000000) // 10 - 100000000000000
         |  FROM seq s JOIN idx n ON n.k = s.k AND n.i = s.i + 1)
         |SELECT k AS priority, t AS ym, x AS cents, l AS level,
         |  b AS trend, snew AS seasonal,
         |  CAST(l + b + sv[1] AS BIGINT) AS forecast_next
         |FROM seq WHERE i > 12 ORDER BY priority, ym""".stripMargin,
    "q264_holt_trend" ->
      // the recurrence replayed step by step: the offset (1e14) shifts
      // numerators positive so DuckDB's floor-div and Spark's
      // truncating long division agree; the level expression is
      // inlined twice in the trend expression (no lateral needed)
      """WITH RECURSIVE daily AS (SELECT o_orderpriority AS k,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS t,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2),
        |idx AS MATERIALIZED (SELECT k, t, x,
        |    row_number() OVER (PARTITION BY k ORDER BY t) AS i FROM daily),
        |seq(k, i, t, x, l, b) AS (
        |  SELECT k, i, t, x, x, CAST(0 AS BIGINT) FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT n.k, n.i, n.t, n.x,
        |    (2 * (n.x + 4 * (s.l + s.b)) + 5 + 10 * 100000000000000) // 10
        |      - 100000000000000,
        |    (2 * (((2 * (n.x + 4 * (s.l + s.b)) + 5
        |        + 10 * 100000000000000) // 10 - 100000000000000)
        |      - s.l + 9 * s.b) + 10 + 20 * 100000000000000) // 20
        |      - 100000000000000
        |  FROM seq s JOIN idx n ON n.k = s.k AND n.i = s.i + 1)
        |SELECT k AS priority, t AS day, x AS cents, l AS level,
        |  b AS trend, CAST(l + b AS BIGINT) AS forecast_next
        |FROM seq ORDER BY priority, day""".stripMargin,
    "q265_heaps_law" ->
      s"""WITH toks AS (SELECT doc_id, unnest($SqlToks) AS tok
         |  FROM documents),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |cuts AS (SELECT CAST(p AS BIGINT) AS p,
         |    (p * (mx.mx + 1)) // 10 AS cut
         |  FROM range(1, 11) r(p), mx),
         |firsts AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY 1),
         |vocab AS (SELECT c.p, CAST(count(*) AS BIGINT) AS vocab
         |  FROM firsts f JOIN cuts c ON f.fd < c.cut GROUP BY 1),
         |ntok AS (SELECT c.p, CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM toks t JOIN cuts c ON t.doc_id < c.cut GROUP BY 1),
         |pp AS (SELECT p, n_tokens, vocab FROM ntok JOIN vocab USING (p)
         |  WHERE n_tokens > 0 AND vocab > 0),
         |pts AS (SELECT
         |    CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(8,6))
         |      AS x,
         |    CAST(round(ln(CAST(vocab AS DOUBLE)), 6) AS DECIMAL(8,6))
         |      AS y
         |  FROM pp),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |    CAST(sum(x) AS DECIMAL(12,6)) AS sx,
         |    CAST(sum(y) AS DECIMAL(12,6)) AS sy,
         |    CAST(sum(x * y) AS DECIMAL(20,12)) AS sxy,
         |    CAST(sum(x * x) AS DECIMAL(20,12)) AS sxx FROM pts),
         |sl AS (SELECT n_points, sx, sy,
         |    CAST(CAST(n_points AS DECIMAL(3,0)) * sxy - sx * sy AS DOUBLE)
         |      / CAST(CAST(n_points AS DECIMAL(3,0)) * sxx - sx * sx
         |        AS DOUBLE) AS beta
         |  FROM m)
         |SELECT pp.p, pp.n_tokens, pp.vocab, sl.n_points,
         |  round(sl.beta, 6) + 0.0 AS heaps_beta,
         |  round((CAST(sl.sy AS DOUBLE) - sl.beta * CAST(sl.sx AS DOUBLE))
         |    / CAST(sl.n_points AS DOUBLE), 6) + 0.0 AS heaps_ln_k
         |FROM pp, sl ORDER BY pp.p""".stripMargin,
    "q257_acf" ->
      // n-scaled integer deviations: num and den are DECIMAL-exact
      // (DuckDB multiplies DECIMAL(19,0) into (38,0), same as Spark);
      // the lag pairing replays as a self-join on the day index
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s FROM daily),
        |dev AS (SELECT row_number() OVER (ORDER BY day) AS t,
        |    CAST(tot.n * daily.cents - tot.s AS DECIMAL(19,0)) AS d
        |  FROM daily, tot),
        |den AS (SELECT sum(d * d) AS den FROM dev),
        |num AS (SELECT k.k AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(a.d * b.d) AS num
        |  FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) k(k)
        |  JOIN dev a ON TRUE
        |  JOIN dev b ON b.t = a.t + k.k
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  round(CAST(num AS DOUBLE)
        |    / CAST(nullif(den.den, 0) AS DOUBLE), 6) + 0.0 AS acf
        |FROM num, den ORDER BY lag""".stripMargin,
    "q131_survival" ->
      // KM product via round(ln(1-d/n),6) DECIMAL sums, exp once;
      // explicit 0 after a stratum exhausts its risk set
      """WITH ev AS (SELECT user_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us FROM events),
        |a AS (SELECT max(us) AS end_us FROM ev),
        |life AS (SELECT (max(us) - min(us)) // 86400000000 AS t,
        |  (SELECT end_us FROM a) - max(us) < 604800000000 AS censored
        | FROM ev GROUP BY user_id),
        |st AS (SELECT t,
        |  CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        | FROM life GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM life),
        |r AS (SELECT t, d, c,
        |  n_total - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS n_risk
        | FROM st CROSS JOIN tot),
        |r2 AS (SELECT t, d, c, n_risk,
        |  CAST(min(CASE WHEN d < n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS alive,
        |  sum(CASE WHEN d < n_risk THEN
        |      CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE NULL END)
        |    OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ls
        | FROM r)
        |SELECT t AS t_days, n_risk, d, c,
        |  CASE WHEN alive = 1 THEN round(exp(CAST(ls AS DOUBLE)), 6)
        |       ELSE 0.0 END AS surv
        |FROM r2 ORDER BY t_days""".stripMargin,
    "q178_ewma" -> ewmaSql(8))
}
