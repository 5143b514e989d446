package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.operators.Merge
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}

/** Structured-Streaming lift of the import pipeline (SURVEY §2.10): the
  * reference has no streaming, but its closest analog — repeated
  * multi-file import of a watched directory — maps to
  * `readStream → foreachBatch { merge }`: every micro-batch is one
  * import run with the same dedup/merge semantics. Windowed aggregations
  * with watermarks cover late events for the statistics surface.
  */
object StreamingImport {

  /** Streaming state-store provider switch — the 100 TB posture knob.
    * The default HDFSBackedStateStoreProvider keeps every key's state
    * on the executor HEAP (snapshotting to the checkpoint dir): fine
    * for bounded test corpora, an OOM wall once keyed-dedup or
    * stream-stream-join state outgrows executor memory.
    * `GRAFT_STREAM_STATE=rocksdb` (env) or `graft.stream.state=rocksdb`
    * (sys-prop, spec hook) flips the SESSION to Spark's bundled RocksDB
    * provider — state lives off-heap in a per-partition RocksDB that
    * spills to local disk, with changelog checkpointing — before a
    * drain starts (the conf is read at query start). Returns the
    * provider class now in effect so callers and specs can assert it.
    * Default stays HDFS-backed: small jobs keep the zero-setup path,
    * and the oracle drains prove result-identity under BOTH providers.
    */
  def configureStateStore(spark: SparkSession): String = {
    val want = sys.props.get("graft.stream.state")
      .orElse(sys.env.get("GRAFT_STREAM_STATE"))
    if (want.exists(_.equalsIgnoreCase("rocksdb")))
      spark.conf.set(StateStoreKey, RocksDbProvider)
    spark.conf.get(StateStoreKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  }

  private val StateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Continuous CSV-directory ingest (the directory-watch analog of
    * multi-file import).
    */
  def csvStream(spark: SparkSession, dir: String, schema: StructType,
                separator: String = ";", header: Boolean = true): DataFrame =
    spark.readStream.schema(schema)
      .option("sep", separator).option("header", header.toString)
      .csv(dir)

  /** Per-micro-batch merge into a target maintained by `applyBatch` —
    * each batch runs the full importMerge matrix exactly like one
    * reference import run. The caller owns target persistence (JDBC
    * rewrite, Delta merge, in-memory for tests).
    */
  def mergeEachBatch(stream: DataFrame, keys: Seq[String],
                     mode: ImportMode = ImportMode.Upsert,
                     dupMode: DuplicateMode = DuplicateMode.UpdateAllJoin,
                     updateWithNull: Boolean = true,
                     loadTarget: () => DataFrame,
                     saveTarget: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val staged = graft.operators.Ordinals.withArrivalOrdinal(batch, "__graft_ord")
      val target = loadTarget()
      // importMerge's targetOrder must be unique WITHIN a duplicate key
      // group (joinDuplicates picks per-column max_by over it; a fully
      // tied order could mix columns from different rows into a row that
      // never existed). Keys alone are constant within a group, so append
      // the value columns as tie-breakers — same rule as Importer.
      val targetOrder = (keys ++ target.columns.filterNot(keys.contains)).map(col)
      val merged = Merge.importMerge(target, staged, keys.map(Key(_)),
          mode, dupMode, updateWithNull,
          sourceOrder = col("__graft_ord"), targetOrder = targetOrder)
        .drop("__graft_ord")
      saveTarget(merged)
    }

  /** Watermarked tumbling-window aggregation over an event stream —
    * event-time counts/sums with late-data tolerance.
    */
  def windowedEventStats(events: DataFrame, tsCol: String, window: String,
                         watermark: String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((org.apache.spark.sql.functions.window(col(tsCol), window) +:
        groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select((Seq(col("window.start").as("window_start")) ++ groupCols.map(col) ++
        Seq(col("n"), col("sum_value"))): _*)

  /** Per-key session windows (inactivity gap) with a watermark — the
    * streaming form of the batch session aggregation (SparkEntry q43):
    * a session closes once the watermark passes its end (last event +
    * gap), so state is bounded by open sessions.
    */
  def sessionEventStats(events: DataFrame, tsCol: String, gap: String,
                        watermark: String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select((Seq(col("session_window.start").as("session_start")) ++
        groupCols.map(col) ++ Seq(col("n"), col("sum_value"))): _*)

  /** Shuffle partitions of every drain, which is also its STATE
    * partition count: stateful operators fix their state-store
    * partition count from `spark.sql.shuffle.partitions` at the query's
    * FIRST batch, and every micro-batch then pays per-partition
    * state-store open / commit / fsync on every stateful operator —
    * with the session's CPU-count partitioning (32), a drain over a
    * keyed state of a few thousand rows burned 80–90 s of task time PER
    * BATCH on store bookkeeping (§1-measured; the join/agg work itself
    * is milliseconds). State partitions are sized by keyed-state
    * VOLUME, not by host cores; results are partition-count-invariant
    * (the oracle rows hash-match at any value).
    */
  private val StatePartitions = 8

  /** Bounded replay of one streaming query into a uniquely named
    * memory sink, leaving nothing behind in the session. `build` stages
    * its input under a fresh `graft-<tag>-` temp directory and returns
    * the unstarted writer (output mode set, no sink); the drain starts
    * it with a checkpoint in that directory, runs it to exhaustion
    * (`processAllAvailable`) and stops it. Around the replay the session
    * runs with [[StatePartitions]] shuffle partitions and the state-store
    * provider of [[configureStateStore]] — RocksDB when `rocksDb` (the
    * `transformWithState` API requires it) — and both confs, the sink's
    * view and the directory are gone once the drain returns. The
    * returned frame holds the sink's rows by reference, so it stays
    * readable afterwards.
    */
  def drain(s: SparkSession, tag: String, rocksDb: Boolean = false)(
      build: Path => DataStreamWriter[Row]): DataFrame =
    drainScope(s, tag, rocksDb) { tmp =>
      // unique per invocation: Bench's min-of-N protocol reruns every
      // query in one session
      val sink = s"${tag}_sink_${System.nanoTime()}"
      try {
        replay(build(tmp).format("memory").queryName(sink), tmp)
        s.table(sink)
      } finally s.catalog.dropTempView(sink)
    }

  /** [[drain]] for a `foreachBatch` writer, whose batches update the
    * caller's own state instead of a sink: same conf, directory and
    * stop discipline, nothing returned.
    */
  def drainBatches(s: SparkSession, tag: String)(
      build: Path => DataStreamWriter[Row]): Unit =
    drainScope(s, tag, rocksDb = false)(tmp => replay(build(tmp), tmp))

  private def drainScope[T](s: SparkSession, tag: String, rocksDb: Boolean)(
      body: Path => T): T = {
    val keys = Seq(ShufflePartitionsKey, StateStoreKey)
    val prior = keys.map(s.conf.getOption)
    val tmp = Files.createTempDirectory(s"graft-$tag-")
    try {
      s.conf.set(ShufflePartitionsKey, StatePartitions.toString)
      if (rocksDb) s.conf.set(StateStoreKey, RocksDbProvider)
      else configureStateStore(s)
      body(tmp)
    } finally {
      FileUtils.deleteQuietly(tmp.toFile)
      keys.zip(prior).foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  private def replay(w: DataStreamWriter[Row], tmp: Path): Unit = {
    val q = w.option("checkpointLocation", tmp.resolve("ckpt").toString).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Cross-batch streaming dedup via keyed state
    * (`mapGroupsWithState`): the first record per key passes, every
    * later occurrence — in the same OR any later micro-batch — drops.
    * This is the streaming form of the keep-first dedup: state holds one
    * boolean per key, partitioned by key, so it scales with distinct
    * keys, not stream volume.
    */
  def dedupStream[K: org.apache.spark.sql.Encoder, V: org.apache.spark.sql.Encoder](
      stream: org.apache.spark.sql.Dataset[V], key: V => K): org.apache.spark.sql.Dataset[V] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val boolEnc: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    stream.groupByKey(key)
      .flatMapGroupsWithState[Boolean, V](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[V], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** Cross-batch dedup with BOUNDED state: duplicates are dropped only
    * while their key can still legally reappear — once the event-time
    * watermark passes a key's last occurrence plus `delay`, its state is
    * evicted (Spark's `dropDuplicatesWithinWatermark`). The unbounded
    * [[dedupStream]] is exact forever but its state grows with distinct
    * keys; this variant is the 100 TB-stream configuration, trading
    * "duplicates arriving later than the watermark delay pass through"
    * for state that tracks only the active window.
    */
  def dedupStreamWithinWatermark(stream: DataFrame, keyCols: Seq[String],
                                 tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked STREAM-STREAM interval join: each left event pairs
    * with right events of the same key whose event time lies in
    * `[leftTs + lowerBound, leftTs + upperBound]` (bounds in seconds,
    * either sign). Both sides carry watermarks, so Spark buffers each
    * side's state only until the other side's watermark passes the
    * interval — bounded state at any stream volume, the streaming
    * analog of the batch banded range join (q45).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          leftKey: String, rightKey: String,
                          leftTs: String, rightTs: String,
                          delay: String, lowerBoundS: Long, upperBoundS: Long,
                          joinType: String = "inner"): DataFrame = {
    require(upperBoundS >= lowerBoundS,
      s"upper bound ($upperBoundS s) must be >= lower bound ($lowerBoundS s)")
    // stream-stream joins resolve columns by NAME across both inputs,
    // so the two sides' key/ts columns must be named differently
    val clash = Set(leftKey, leftTs).intersect(Set(rightKey, rightTs))
    require(clash.isEmpty,
      s"left and right column names must differ, both sides have: ${clash.mkString(", ")}")
    // OUTER variants change the EMISSION contract, not just the rows:
    // matches stream out as they happen, but an unmatched left row is
    // emitted (null-extended) only when the global watermark passes
    // its last possible match time (leftTs + upper) — state-expiry
    // driven, so a finite replay needs time-ordered input and a small
    // delay or tail rows stay buffered forever (q311 pins this)
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay),
        expr(s"`$leftKey` = `$rightKey`" +
          s" AND `$rightTs` >= `$leftTs` + INTERVAL $lowerBoundS SECOND" +
          s" AND `$rightTs` <= `$leftTs` + INTERVAL $upperBoundS SECOND"),
        joinType)
  }

  /** Stateless stream-static enrichment join: each micro-batch of the
    * stream equi-joins a BATCH dimension frame. No state store, no
    * watermark — the engine re-evaluates the static side per batch, so
    * a broadcast hint keeps it a map-side hash join (the 100 TB shape:
    * the stream shuffles nothing; the dimension ships once per
    * executor). This is the per-import "resolve surrogate keys against
    * the dimension table" step of a streaming warehouse load.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       joinCond: org.apache.spark.sql.Column,
                       joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), joinCond, joinType)

  /** Streaming incremental near-dup: every micro-batch of documents
    * probes the STANDING LSH index
    * ([[graft.operators.TextDedup.probeLshIndex]]) — the corpus is never
    * re-hashed; only the arriving batch's band keys broadcast. Matches
    * (new_id, corpus_id, jaccard) go to `onMatches` per batch — route to
    * a quarantine table, a drop filter, or metrics.
    */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
                    indexPath: String, threshold: Double,
                    onMatches: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      onMatches(graft.operators.TextDedup.probeLshIndex(
        batch, idCol, textCol, indexPath, threshold = threshold))
    }

  /** End-to-end STREAMING curation — the streaming analog of the q92
    * batch flagship, composed from the same building blocks:
    *
    *  1. quality gate: the batch pipeline's scan-stage
    *     [[graft.functions.TextAnalysis.qualityScore]] filter — pure
    *     per-row work, no state;
    *  2. cross-batch exact dedup: content fingerprint
    *     ([[graft.functions.TextAnalysis.fingerprintMd5]]) through the
    *     keyed-state gate of [[dedupStream]] — the first document with a
    *     fingerprint passes, every later copy in ANY micro-batch drops
    *     (state = one boolean per distinct fingerprint);
    *  3. token accounting: each surviving document carries its token
    *     count for downstream budget control.
    *
    * Returns the surviving stream `(id, text, quality, n_tokens)`.
    * State scales with distinct content, not stream volume; every
    * stage is identical to its batch counterpart, so a document set
    * replayed as a stream yields exactly the batch pipeline's survivors.
    */
  def curationStream(docs: DataFrame, idCol: String, textCol: String,
                     minQuality: Double): org.apache.spark.sql.Dataset[(String, String, Double, Long)] = {
    val ta = graft.functions.TextAnalysis
    import docs.sparkSession.implicits._
    val gated = docs
      .withColumn("__quality", ta.qualityScore(col(textCol)))
      .filter(col("__quality") >= minQuality)
      .select(col(idCol).cast("string"), col(textCol).cast("string"),
        col("__quality"), ta.tokenCount(col(textCol)).cast("long"),
        ta.fingerprintMd5(col(textCol)))
      .as[(String, String, Double, Long, String)]
    dedupStream[String, (String, String, Double, Long, String)](gated, _._5)
      .map(r => (r._1, r._2, r._3, r._4))
  }

  /** Streaming face of the batch rolling-anomaly gate
    * ([[graft.operators.RollingAnomaly]]): per-key state is the ring of
    * the last `window` integer values, and each arriving event is
    * flagged with the SAME cross-multiplied integer test
    * `(n·v − s)² > k²·(n·q − s²)` — so a stream replayed in order
    * yields exactly the batch operator's flags (spec-pinned). Within a
    * micro-batch, a key's rows process in `(ts, tie)` order; ACROSS
    * batches, arrival order stands in for event order — the same
    * concession every keyed-state operator here makes (late events
    * score against the state as of their arrival).
    *
    * Emits `(key, ts, tie, value, window_n)` for flagged events only.
    * State is `window` longs per active key — bounded, independent of
    * stream volume.
    */
  def anomalyStream(events: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)],
                    window: Int = 8, minWindow: Int = 4,
                    sigmas: Int = 3): org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long)] = {
    require(window >= minWindow && minWindow >= 2,
      s"need window >= minWindow >= 2, got ($window, $minWindow)")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val sig2 = sigmas.toLong * sigmas
    events.groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[List[Long]]) =>
          var ring = state.getOption.getOrElse(Nil) // newest value last
          val out = List.newBuilder[(Long, Long, Long, Long, Long)]
          for ((_, ts, tie, v) <- rows.toSeq.sortBy(r => (r._2, r._3))) {
            val n = ring.size.toLong
            if (n >= minWindow) {
              val s = ring.sum
              val q = ring.iterator.map(x => x * x).sum
              if ((n * v - s) * (n * v - s) > sig2 * (n * q - s * s))
                out += ((key, ts, tie, v, n))
            }
            ring = (ring :+ v).takeRight(window)
          }
          state.update(ring)
          out.result().iterator
      }
  }

  /** Streaming count-min sketch: the SAME (row_idx, bucket) counter
    * aggregation as [[graft.operators.Sketches.cmsSketch]], run as an
    * incremental streaming aggregation — Structured Streaming's state
    * store does the cell-wise merge that makes CMS mergeable, so the
    * maintained counters equal the batch sketch of everything ever
    * streamed (spec-pinned batch parity). Read with
    * `outputMode(Complete)` into a memory sink, or `Update` to emit
    * only touched cells per micro-batch.
    */
  def cmsStream(values: DataFrame, valueCol: String, depth: Int,
                width: Int): DataFrame =
    graft.operators.Sketches.cmsSketch(values, valueCol, depth, width)

  /** Streaming HLL registers: the SAME bucket/max-rho aggregation as
    * [[graft.operators.Sketches.hllRegisters]], run incrementally —
    * per-bucket `max` is exactly the HLL merge, so the state store
    * maintains the registers of everything ever streamed (spec-pinned
    * batch parity; feed the complete-mode table to
    * `Sketches.hllEstimate` at read time).
    */
  def hllStream(values: DataFrame, groupCols: Seq[String], valueCol: String,
                p: Int): DataFrame =
    graft.operators.Sketches.hllRegisters(values, groupCols, valueCol, p)

  /** Streaming histogram sketch: the SAME bin/count aggregation as
    * [[graft.operators.Sketches.histSketch]] — per-bin counts sum,
    * which IS the histogram merge, so the complete-mode table equals
    * the batch sketch of the whole stream (spec-pinned; feed to
    * `Sketches.histQuantiles` at read time).
    */
  def histStream(values: DataFrame, valueCol: String,
                 binWidth: Long): DataFrame =
    graft.operators.Sketches.histSketch(values, valueCol, binWidth)

  /** Streaming KMV sketch via `foreachBatch`: KMV's bottom-k needs a
    * rank (no streaming-native aggregation), so each micro-batch's
    * batch sketch merges into a STANDING sketch with the spec-pinned
    * [[graft.operators.Sketches.kmvMerge]] law — the standing state is
    * ≤ k rows per group (sketch-sized, never stream-sized), collected
    * locally between batches to keep the lineage flat. `onUpdate`
    * receives the merged sketch after every batch; the final callback
    * value equals `kmvSketch` of the union of all batches (spec-pinned
    * batch parity).
    */
  def kmvStream(values: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Int,
                onUpdate: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    @volatile var standing: Option[DataFrame] = None
    values.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val bs = graft.operators.Sketches.kmvSketch(batch, groupCols, valueCol, k)
        val merged = standing match {
          case Some(s) => graft.operators.Sketches.kmvMerge(s, bs, groupCols, k)
          case None    => bs
        }
        // k-sized per group: localize to cut lineage growth across batches
        val rows = merged.collect().toSeq
        val flat = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), merged.schema)
        standing = Some(flat)
        onUpdate(flat)
    }
  }

  /** Streaming ordered funnel: per-user state is one long per stage
    * (the first qualifying time, −1 = unreached) — a few words per
    * user, never the event history. A stage-k event advances the
    * funnel only when stage k−1 was already reached strictly earlier,
    * exactly [[graft.operators.Funnel.stageTimes]]'s order constraint;
    * with in-timestamp-order arrival (watermark discipline) the fold
    * is spec-pinned identical to the batch operator over the unioned
    * batches. Emits `(user, stage_idx, ts)` once per newly-reached
    * stage (Append mode).
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[(Long, String, Long)],
                   stages: Seq[String])
      : org.apache.spark.sql.Dataset[(Long, Int, Long)] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Int, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array.fill(stages.length)(-1L))
          val out = List.newBuilder[(Long, Int, Long)]
          for ((_, t, ts) <- rows.toSeq.sortBy(_._3)) {
            val i = stages.indexOf(t)
            if (i >= 0 && st(i) < 0 &&
                (i == 0 || (st(i - 1) >= 0 && ts > st(i - 1)))) {
              st(i) = ts
              out += ((u, i, ts))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Per-key running totals on the Spark 4 `transformWithState`
    * arbitrary-state API — exercises the newest state primitive
    * (an explicit named [[org.apache.spark.sql.streaming.ValueState]]
    * on the RocksDB-backed provider, which this API REQUIRES): every
    * `(key, amount)` row folds into the key's (row count, amount sum)
    * and the updated totals are emitted each trigger. Counts and
    * integer-amount sums are associative and commutative, so the fold
    * is batch-split-invariant — any micro-batch replay converges to
    * the batch group-by, which is exactly what the q261 oracle pins.
    */
  def runningTotalsStream(rows: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming heavy hitters: each micro-batch collapses to a k-slot
    * Misra–Gries summary IN the executors
    * ([[graft.operators.HeavyHitters.mgSummary]] — only ≤ k counters
    * ever reach the driver), then folds into a standing summary with
    * the mergeable-summaries merge ([[HeavyHitters.mgMerge]]). The
    * standing state is sketch-sized forever; the classic MG guarantee
    * holds for the whole stream (any item with true count >
    * n_total/(k+1) is present; counters undercount by at most that) —
    * spec-pinned against exact counts of the unioned batches.
    *
    * Delivery contract: foreachBatch is at-least-once, so a retried
    * batch would be merged twice and break the never-overcounts bound;
    * merges are therefore keyed by batchId and already-seen ids are
    * skipped (idempotent under same-run retries). The standing summary
    * lives in driver memory for the lifetime of ONE run: after a
    * checkpoint RESTART it starts empty while completed batches are not
    * replayed, so the whole-stream guarantee covers a single
    * uninterrupted run — persist `onUpdate` output externally if the
    * summary must survive restarts.
    */
  def heavyHittersStream(items: DataFrame, itemCol: String, k: Int,
                         onUpdate: Map[String, Long] => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    @volatile var standing: Map[String, Long] = Map.empty
    val merged = scala.collection.mutable.HashSet.empty[Long]
    items.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // membership check first, record only AFTER a successful merge:
        // if mgSummary/mgMerge/onUpdate throws and the engine replays
        // the batch (the at-least-once scenario this guard exists for),
        // the replay must re-merge it — recording up front would skip
        // the replay and silently lose the batch's counts, turning
        // at-least-once into at-most-once
        val fresh = merged.synchronized { !merged.contains(batchId) }
        if (fresh) {
          val bs = graft.operators.HeavyHitters.mgSummary(batch, itemCol, k)
          standing = graft.operators.HeavyHitters.mgMerge(standing, bs, k)
          onUpdate(standing)
          merged.synchronized { merged.add(batchId); () }
        }
    }
  }
}

/** `(key, amount)` → running `(key, n_rows, amount_sum)` via a named
  * `ValueState` on the `transformWithState` API ([[StreamingImport
  * .runningTotalsStream]]). Top-level (not nested) so the processor
  * serializes without capturing an enclosing instance.
  */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
    TimerValues, ValueState}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var n = 0L
    var c = 0L
    if (totals.exists()) { val t = totals.get(); n = t._1; c = t._2 }
    rows.foreach { r => n += 1; c += r._2 }
    totals.update((n, c))
    Iterator.single((key, n, c))
  }
}
