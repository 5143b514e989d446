package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-engine drain queries — real readStream micro-batch replays (windows, keyed dedup, sessions, append eviction, stream-stream join, foreachBatch upsert) hash-matched against batch oracles.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesStreaming]] / [[oracleSqlStreaming]] to the
  * assembled driver contract.
  */
private[graft] trait StreamingQueries { this: SparkEntry.type =>

  import Tables._

  /** Stage `df` as one directory per month value of `monthExpr`
    * (`m000`, `m001`, … in chronological order, one parquet file each,
    * strictly increasing mtimes) — the time-ordered replay layout the
    * append-mode drains need (one file per trigger drives the
    * watermark forward deterministically).
    *
    * ONE partitioned write job replaces the former month LOOP (collect
    * the month list, then one full-input filter+scan+write PER MONTH
    * plus a 25 ms mtime sleep each — N scans and N driver-serialized
    * jobs for an N-month table; §6 fewer write jobs / §2.6 don't
    * serialize independent work on the driver). `repartition(monthExpr)`
    * puts each month wholly in one task, so every `__stage_m=…`
    * directory holds exactly one data file; directories are then
    * renamed into the flat `mNNN` layout (chronological = lexicographic
    * for the fixed-format truncated timestamps) and each file's mtime
    * is set explicitly — the replay ORDER contract is carried by
    * metadata, not by when the driver happened to run each write.
    * Null months are excluded, exactly like the old `=== lit(m)`
    * filter (null never equals).
    */
  private[graft] def stageMonthly(df: DataFrame, monthExpr: Column,
                                  dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    df.filter(monthExpr.isNotNull)
      .withColumn("__stage_m", monthExpr)
      .repartition(col("__stage_m"))
      .write.partitionBy("__stage_m").mode("overwrite")
      .parquet(dir.toString)
    val ls = java.nio.file.Files.list(dir)
    val months = try ls.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("__stage_m="))
      .sortBy(_.getFileName.toString)
    finally ls.close()
    val base = System.currentTimeMillis()
    months.zipWithIndex.foreach { case (p, i) =>
      val target = dir.resolve(f"m$i%03d")
      java.nio.file.Files.move(p, target)
      val fs = java.nio.file.Files.list(target)
      try fs.iterator().asScala.toSeq.foreach { f =>
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      } finally fs.close()
    }
  }

  // ---------------------------------------------------------------- q207
  /** Streaming windowed stats drained through the REAL Structured
    * Streaming engine and hash-compared against the batch oracle —
    * until now streaming was verified only by self-parity pins; this
    * row makes the `StreamingImport.windowedEventStats` path (micro-
    * batch execution, state store, watermark plumbing) answer to
    * DuckDB exactly like every batch operator. The events table is
    * staged to parquet, replayed as a multi-micro-batch file stream
    * (maxFilesPerTrigger), windowed+watermarked, and the memory sink's
    * COMPLETE-mode output (complete, not append: the trailing window
    * would otherwise be withheld waiting for a watermark that never
    * advances past end-of-stream) is returned as a batch frame.
    * Value sums run in DECIMAL pre-aggregation for engine-portable
    * doubles (FP sum order differs between engines).
    */
  def q207StreamWindows(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q207") { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d)
        .select(timestamp_micros(expr("ts DIV 1000")).as("ts_utc"),
          col("event_type"),
          col("value").cast("decimal(18,6)").as("value"))
        .repartition(8).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
      streaming.StreamingImport.windowedEventStats(
          stream, "ts_utc", "1 hour", "10 minutes", Seq("event_type"))
        .writeStream.outputMode("complete")
    }.select(col("window_start"), col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  // ---------------------------------------------------------------- q210
  /** Streaming cross-batch keyed dedup drained through the REAL
    * engine: events replayed as a multi-micro-batch file stream
    * through [[streaming.StreamingImport.dedupStream]]
    * (`flatMapGroupsWithState`, one boolean per key in the state
    * store), then the surviving KEY SET is hash-compared against
    * DuckDB's `SELECT DISTINCT`. Which event survives per key is
    * arrival-order dependent (partition scheduling), so the oracle
    * checks the order-invariant contract: exactly one row per key,
    * no key lost or invented across micro-batches.
    */
  def q210StreamDedup(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q210") { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d).select(col("user_id"), col("event_id"))
        .repartition(8).write.mode("overwrite").parquet(src)
      import s.implicits._
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
        .select(col("user_id").as("_1"), col("event_id").as("_2"))
        .as[(Long, Long)]
      streaming.StreamingImport
        .dedupStream[Long, (Long, Long)](stream, _._1)
        .toDF("user_id", "event_id")
        .writeStream.outputMode("append")
    }.select(col("user_id")).orderBy(col("user_id"))

  // ---------------------------------------------------------------- q211
  /** Streaming SESSION windows drained through the real engine — the
    * q43 gaps-and-islands oracle replayed against
    * [[streaming.StreamingImport.sessionEventStats]] running in
    * micro-batches (session-merging state store): inactivity-gap
    * sessions must come out identical whether computed in batch or
    * accumulated incrementally across triggers. Complete output mode
    * for the same end-of-stream reason as q207.
    */
  def q211StreamSessions(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q211") { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d)
        .select(timestamp_micros(expr("ts DIV 1000")).as("ts_utc"),
          col("user_id"),
          col("value").cast("decimal(18,6)").as("value"))
        .repartition(8).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
      // session windows filter watermark-late input even in complete
      // mode (unlike plain windowed aggs), and a parquet REPLAY arrives
      // in file order, not time order — the watermark must exceed the
      // replay's max disorder, which for a historical table is its full
      // span. (That is the documented operator contract, not a dodge:
      // q205 is the audit that SIZES this number for live streams.)
      streaming.StreamingImport.sessionEventStats(
          stream, "ts_utc", "30 minutes", "730 days", Seq("user_id"))
        .writeStream.outputMode("complete")
    }.select(col("session_start"), col("user_id"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  // ---------------------------------------------------------------- q212
  /** APPEND-mode streaming windows — the third streaming engine
    * contract after q207 (complete-mode aggregation state) and q211
    * (session merging): append emits a window ONLY once the watermark
    * passes its end and then never revisits it, so the drained output
    * must equal the batch aggregation RESTRICTED to windows with
    * `window_end <= max(event time)` (delay 0) — the trailing window
    * stays withheld forever. To make watermark progression
    * deterministic the replay is staged month-by-month (one file per
    * month, strictly increasing mtimes, one file per trigger): months
    * are time-disjoint, so the watermark carried from batch N−1 never
    * classifies a batch-N row late, with zero delay and no span-sized
    * watermark crutch.
    */
  def q212StreamAppend(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q212") { tmp =>
      val src = tmp.resolve("src")
      java.nio.file.Files.createDirectories(src)
      val ev = events(s, d)
        .select(timestamp_micros(expr("ts DIV 1000")).as("ts_utc"),
          col("event_type"),
          col("value").cast("decimal(18,6)").as("value"))
      stageMonthly(ev, date_trunc("month", col("ts_utc")), src)
      val schema = s.read.parquet(src.resolve("m000").toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString + "/m*")
      streaming.StreamingImport.windowedEventStats(
          stream, "ts_utc", "1 hour", "0 seconds", Seq("event_type"))
        .writeStream.outputMode("append")
    }.select(col("window_start"), col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  // ---------------------------------------------------------------- q213
  /** STREAM-STREAM interval join drained through the real engine —
    * the two-sided join state store, the last big streaming path
    * without an oracle row: clicks and views replayed as two file
    * streams, inner-joined on user with `view_ts ∈ [click_ts ± 5min]`
    * ([[streaming.StreamingImport.intervalJoinStreams]]), pairs
    * drained and THEN aggregated in batch to per-click nearby-view
    * counts — the q45 shape. An inner stream-stream join emits each
    * matching pair exactly once regardless of arrival interleaving
    * (watermark only bounds state retention, sized here to the replay
    * span), so the drained pair SET is deterministic even though the
    * replay order is not. Users < 300 keep the drained pair table
    * driver-memory-sized.
    */
  def q213StreamIntervalJoin(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q213") { tmp =>
      val ev = events(s, d).filter(col("user_id") < 300)
        .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_utc").as("c_ts"))
        .repartition(4).write.mode("overwrite")
        .parquet(tmp.resolve("clicks").toString)
      ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_utc").as("v_ts"))
        .repartition(4).write.mode("overwrite")
        .parquet(tmp.resolve("views").toString)
      def rd(name: String) = s.readStream
        .schema(s.read.parquet(tmp.resolve(name).toString).schema)
        .option("maxFilesPerTrigger", "2").parquet(tmp.resolve(name).toString)
      streaming.StreamingImport.intervalJoinStreams(
          rd("clicks"), rd("views"), "user_id", "v_user", "c_ts", "v_ts",
          delay = "730 days", lowerBoundS = -300L, upperBoundS = 300L)
        .select(col("user_id"), col("event_id"))
        .writeStream.outputMode("append")
    }.groupBy(col("user_id"), col("event_id"))
      .agg(count(lit(1)).as("n_views_nearby"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------- q311
  /** STREAM-STREAM LEFT OUTER interval join drained through the real
    * engine — the last join-state emission path without an oracle
    * row: q213's click↔view pairing, but every click must surface
    * even with NO nearby view. The outer semantics change WHEN rows
    * emit, not just which: matches stream out as they happen, while
    * an unmatched click is null-extended only when the global
    * watermark (min over both inputs' max event time, minus the
    * delay) passes its last possible match time `c_ts + upper` —
    * state expiry, observable only through a real drain. Both sides
    * replay time-ordered (one month per file, increasing mtimes, one
    * file per trigger — the q212 staging discipline) with a zero
    * delay, so the finite replay's final no-data batch expires
    * everything except clicks inside the terminal window, whose
    * retention the oracle replicates as the explicit cutoff
    * `c_ts + 300 s < min(max c_ts, max v_ts)`.
    */
  def q311StreamOuterJoin(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q311") { tmp =>
      val ev = events(s, d).filter(col("user_id").isNotNull &&
          col("user_id") < 300)
        .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      def stage(df: DataFrame, name: String): String = {
        val dir = tmp.resolve(name)
        java.nio.file.Files.createDirectories(dir)
        stageMonthly(df, date_trunc("month", col("ts_utc")), dir)
        dir.toString
      }
      val clicksDir = stage(ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_utc")), "clicks")
      val viewsDir = stage(ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_utc")), "views")
      def rd(dir: String) = s.readStream
        .schema(s.read.parquet(dir + "/m000").schema)
        .option("maxFilesPerTrigger", "1").parquet(dir + "/m*")
      streaming.StreamingImport.intervalJoinStreams(
          rd(clicksDir).withColumnRenamed("ts_utc", "c_ts"),
          rd(viewsDir).withColumnRenamed("ts_utc", "v_ts"),
          "user_id", "v_user", "c_ts", "v_ts",
          delay = "0 seconds", lowerBoundS = -300L, upperBoundS = 300L,
          joinType = "left_outer")
        .select(col("user_id"), col("event_id"), col("v_user"))
        .writeStream.outputMode("append")
    }.groupBy(col("user_id"), col("event_id"))
      .agg(sum(when(col("v_user").isNotNull, 1L).otherwise(0L))
        .as("n_views_nearby"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------- q214
  /** The STREAMING IMPORT flagship drained against an oracle: monthly
    * per-user aggregates staged as one file per month (strictly
    * increasing mtimes, one file per trigger — the q212 discipline)
    * and folded through [[streaming.StreamingImport.mergeEachBatch]]
    * (`foreachBatch` + the full importMerge matrix, Upsert ×
    * UpdateAllJoin) into a running target. Each batch carries at most
    * one row per key, so the cross-batch semantics under test — later
    * months overwrite, unseen users insert — are deterministic: the
    * final target is every user's LATEST month row, which DuckDB
    * replays as an argmax-by-month join.
    */
  def q214StreamUpsert(s: SparkSession, d: String): DataFrame = {
    var target = s.emptyDataFrame // typed once the months are staged
    streaming.StreamingImport.drainBatches(s, "q214") { tmp =>
      val src = tmp.resolve("src")
      java.nio.file.Files.createDirectories(src)
      val monthly = events(s, d)
        .withColumn("m", date_trunc("month",
          timestamp_micros(expr("ts DIV 1000"))))
        .groupBy(col("user_id"), col("m"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
      stageMonthly(monthly, col("m"), src)
      val schema = s.read.parquet(src.resolve("m000").toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString + "/m*")
      target = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      streaming.StreamingImport.mergeEachBatch(stream,
        keys = Seq("user_id"),
        loadTarget = () => target,
        saveTarget = merged => { target = merged.localCheckpoint(true) })
    }
    target.orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q235
  /** STREAM-STATIC join drained through the engine — the one streaming
    * join shape q213 (stream-stream) does not cover, and the
    * workhorse of a streaming warehouse load: every micro-batch of
    * events equi-joins the static nation dimension
    * ([[streaming.StreamingImport.enrichWithStatic]], broadcast per
    * batch — stateless: no watermark, no state store, append mode).
    * The memory sink collects the enriched rows; the per-nation
    * rollup happens on the drained BATCH frame so the streaming part
    * under test is exactly the join. Oracle: the same join + rollup
    * in plain SQL. Value sums in DECIMAL (exact, order-free).
    */
  def q235StreamStaticJoin(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q235") { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          col("value").cast("decimal(18,6)").as("value"))
        .withColumn("nk", pmod(col("user_id"), lit(25L)))
        .repartition(8).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
      val dim = nation(s, d).select(col("n_nationkey"), col("n_name"))
      streaming.StreamingImport.enrichWithStatic(
          stream, dim, col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("event_type"), col("value"))
        .writeStream.outputMode("append")
    }.groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("sum_value"))
      .orderBy(col("n_name"), col("event_type"))

  // ---------------------------------------------------------------- q251
  /** Streaming FUNNEL drained through the real engine — the TENTH
    * streaming oracle row: [[streaming.StreamingImport.funnelStream]]
    * (per-user `flatMapGroupsWithState` stage fold, Append mode)
    * replays the signup → click → purchase funnel and must emit
    * exactly the batch stage-times rows ([[operators.Funnel
    * .stageTimes]] semantics: stage k advances on the first event
    * strictly after stage k−1). The replay is a single trigger (no
    * `maxFilesPerTrigger`): the fold's first-reach semantics are
    * arrival-order-dependent across batches, and time-ordering within
    * the one batch is exactly the operator's documented contract —
    * the state path (checkpoint + state store + Append eviction) is
    * still the real engine's. Driver data has µs-unique per-user
    * timestamps, so the in-batch sort is total.
    */
  def q251StreamFunnel(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q251") { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("us"))
        .repartition(8).write.mode("overwrite").parquet(src)
      import s.implicits._
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .parquet(src)
        .select(col("user_id").as("_1"), col("event_type").as("_2"),
          col("us").as("_3"))
        .as[(Long, String, Long)]
      streaming.StreamingImport.funnelStream(stream,
          Seq("signup", "click", "purchase"))
        .toDF("user_id", "stage_idx", "us")
        .writeStream.outputMode("append")
    }.select(col("user_id"),
        col("stage_idx").cast("long").as("stage_idx"), col("us"))
      .orderBy(col("user_id"), col("stage_idx"))

  // ---------------------------------------------------------------- q261
  /** Per-user running totals drained through the Spark 4
    * `transformWithState` API — the ELEVENTH streaming oracle row and
    * the first on the NEW arbitrary-state primitive
    * ([[streaming.StreamingImport.runningTotalsStream]]: an explicit
    * named `ValueState[(Long, Long)]` per user on the RocksDB
    * provider, which the API requires). The source replays in four
    * micro-batches (8 files, `maxFilesPerTrigger=2`); because counts
    * and integer cent-sums are associative+commutative the fold is
    * batch-split-invariant, and Update-mode emissions are monotone,
    * so the final per-user row is the per-user `max` over the sink —
    * which must equal the plain batch group-by the oracle runs.
    */
  def q261StreamRunningTotals(s: SparkSession, d: String): DataFrame =
    streaming.StreamingImport.drain(s, "q261", rocksDb = true) { tmp =>
      val src = tmp.resolve("src").toString
      events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .repartition(8).write.mode("overwrite").parquet(src)
      import s.implicits._
      val stream = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
        .select(col("user_id").as("_1"), col("cents").as("_2"))
        .as[(Long, Long)]
      streaming.StreamingImport.runningTotalsStream(stream)
        .toDF("user_id", "n_events", "sum_cents")
        .writeStream.outputMode("update")
    }.groupBy(col("user_id"))
      // final state = the emission with the highest event count:
      // n_events strictly increases per emission for a user, so the
      // lexicographic struct max picks ONE emission's (n, sum) pair —
      // correct even if amounts were negative (sum_cents alone is
      // monotone only for non-negative values)
      .agg(max(struct(col("n_events"), col("sum_cents"))).as("__m"))
      .select(col("user_id"), col("__m.n_events").as("n_events"),
        col("__m.sum_cents").as("sum_cents"))
      .orderBy(col("user_id"))

  private[graft] def queriesStreaming: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q261_stream_running_totals" -> (q261StreamRunningTotals _),
    "q251_stream_funnel" -> (q251StreamFunnel _),
    "q235_stream_static_join" -> (q235StreamStaticJoin _),
    "q207_stream_windows" -> (q207StreamWindows _),
    "q210_stream_dedup" -> (q210StreamDedup _),
    "q211_stream_sessions" -> (q211StreamSessions _),
    "q212_stream_append" -> (q212StreamAppend _),
    "q213_stream_interval_join" -> (q213StreamIntervalJoin _),
    "q214_stream_upsert" -> (q214StreamUpsert _),
    "q311_stream_outer_join" -> (q311StreamOuterJoin _))

  private[graft] def oracleSqlStreaming: Map[String, String] = Map(
    "q311_stream_outer_join" ->
      // outer-join emission contract, pinned empirically: matches all
      // emit; an unmatched click emits iff the final global watermark
      // (min of both inputs' max event time, zero delay) passed its
      // last possible match time — strict `c_ts + 300 s < wm`; the
      // terminal clicks inside that window stay in state forever
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS t FROM events
        |  WHERE user_id IS NOT NULL AND user_id < 300),
        |c AS (SELECT user_id, event_id, t AS c_ts FROM ev
        |  WHERE event_type = 'click'),
        |v AS (SELECT user_id AS v_user, t AS v_ts FROM ev
        |  WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(c_ts) FROM c),
        |    (SELECT max(v_ts) FROM v)) AS w),
        |m AS (SELECT c.user_id, c.event_id, c.c_ts,
        |    CAST(count(v.v_user) AS BIGINT) AS n_views_nearby
        |  FROM c LEFT JOIN v ON v.v_user = c.user_id
        |    AND v.v_ts >= c.c_ts - INTERVAL 300 SECOND
        |    AND v.v_ts <= c.c_ts + INTERVAL 300 SECOND
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, event_id, n_views_nearby FROM m CROSS JOIN wm
        |WHERE n_views_nearby > 0 OR c_ts + INTERVAL 300 SECOND < wm.w
        |ORDER BY event_id""".stripMargin,
    "q261_stream_running_totals" ->
      // the batch group-by the transformWithState fold must converge
      // to under any micro-batch split: exact integer cents per event
      // (the engine-proven DECIMAL(18,2) cast), summed per user
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q251_stream_funnel" ->
      // the batch funnel definition: stage k = the user's earliest
      // stage-k event strictly after their stage-(k-1) time; the
      // streaming fold over time-sorted events must reproduce it
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
        | FROM events WHERE user_id IS NOT NULL),
        |s0 AS (SELECT user_id, min(us) AS us FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.us) AS us FROM ev e
        |       JOIN s0 ON s0.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.us > s0.us GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS us FROM ev e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > s1.us GROUP BY 1)
        |SELECT user_id, CAST(0 AS BIGINT) AS stage_idx, us FROM s0
        |UNION ALL SELECT user_id, 1, us FROM s1
        |UNION ALL SELECT user_id, 2, us FROM s2
        |ORDER BY user_id, stage_idx""".stripMargin,
    "q207_stream_windows" ->
      // the q37 batch oracle — here the Spark side actually executes
      // the Structured Streaming engine (micro-batches + state store)
      // and drains its complete-mode output to a batch frame
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q210_stream_dedup" ->
      // the order-invariant contract of the streaming keyed dedup:
      // exactly one surviving row per key, no key lost or invented
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q211_stream_sessions" ->
      // q43's gaps-and-islands oracle vs the streaming session-window
      // state store (sessions must merge identically across triggers)
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
    "q212_stream_append" ->
      // append-mode emission contract: exactly the windows whose END
      // the final watermark (max event time, delay 0) passed
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value
        |  FROM events)
        |SELECT time_bucket(INTERVAL 1 HOUR, t) AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM e
        |GROUP BY 1, 2
        |HAVING window_start + INTERVAL 1 HOUR <= (SELECT max(t) FROM e)
        |ORDER BY window_start, event_type""".stripMargin,
    "q213_stream_interval_join" ->
      // the q45 shape via the two-sided stream-stream join state store:
      // per-click count of same-user views within +/- 5 minutes
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS t FROM events WHERE user_id < 300),
        |clicks AS (SELECT user_id, event_id, t FROM ev
        |  WHERE event_type = 'click'),
        |views AS (SELECT user_id AS v_user, t AS v_t FROM ev
        |  WHERE event_type = 'view')
        |SELECT c.user_id, c.event_id, count(*) AS n_views_nearby
        |FROM clicks c JOIN views v
        |  ON v.v_user = c.user_id
        | AND v.v_t >= c.t - INTERVAL 5 MINUTE
        | AND v.v_t <= c.t + INTERVAL 5 MINUTE
        |GROUP BY c.user_id, c.event_id
        |ORDER BY c.event_id""".stripMargin,
    "q214_stream_upsert" ->
      // cross-batch upsert: the final target is each user's LATEST
      // month row (later batches overwrite, unseen users insert)
      """WITH ev AS (SELECT user_id,
        |  date_trunc('month', CAST(ts AS TIMESTAMP)) AS m,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        | FROM events GROUP BY 1, 2),
        |last AS (SELECT user_id, max(m) AS m FROM ev GROUP BY user_id)
        |SELECT ev.user_id, ev.m, ev.n_events, ev.sum_value
        |FROM ev JOIN last ON last.user_id = ev.user_id AND last.m = ev.m
        |ORDER BY ev.user_id""".stripMargin,
    "q235_stream_static_join" ->
      // the drain only reorders rows; the rollup is join + group by on
      // both engines. user_id % 25 keys every event to a nation row.
      """SELECT n.n_name, e.event_type, count(*) AS n,
        | CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |WHERE e.user_id IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n_name, event_type""".stripMargin)
}
