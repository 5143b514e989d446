package graft.streaming

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.SyntheticFixtures

/** Structured-Streaming surface: watermarked windows and the
  * foreachBatch merge pipeline (micro-batch = one import run).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType)))

  test("csv directory stream merges each micro-batch with upsert semantics") {
    val dir = SyntheticFixtures.dir(s"stream_${System.nanoTime()}")
    SyntheticFixtures.writeText(new File(dir, "batch1.csv"), "k;v\n1;a\n2;b")
    @volatile var target = Seq.empty[(Int, String)].toDF("k", "v")
    val stream = StreamingImport.csvStream(spark, dir.getPath, schema)
    val q = StreamingImport.mergeEachBatch(stream, Seq("k"),
        loadTarget = () => target,
        saveTarget = m => { target = m.collect().toSeq
          .map(r => (r.getInt(0), r.getString(1))).toDF("k", "v") })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "_cp1").getPath)
      .start()
    q.awaitTermination(60000)
    assert(target.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 2 -> "b"))
    // second micro-batch updates key 2 and inserts 3
    SyntheticFixtures.writeText(new File(dir, "batch2.csv"), "k;v\n2;B2\n3;c")
    val q2 = StreamingImport.mergeEachBatch(
        StreamingImport.csvStream(spark, dir.getPath, schema), Seq("k"),
        loadTarget = () => target,
        saveTarget = m => { target = m.collect().toSeq
          .map(r => (r.getInt(0), r.getString(1))).toDF("k", "v") })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      // same checkpoint → batch1.csv already committed, only batch2 runs
      .option("checkpointLocation", new File(dir, "_cp1").getPath)
      .start()
    q2.awaitTermination(60000)
    assert(target.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 2 -> "B2", 3 -> "c"))
  }

  test("streaming anomaly gate equals the batch operator on an in-order replay") {
    import graft.operators.RollingAnomaly
    val dir = SyntheticFixtures.dir(s"anom_${System.nanoTime()}")
    // user 1: steady 100s with a 250 spike at t=7 and a 300 spike at
    // t=12 (t=12's window still holds the 250, raising sigma — 300
    // clears 3 sigma, 250 would not) — split across two micro-batches
    // in ts order; user 2: too few rows to ever flag
    val rows = (1 to 12).map(t => (1L, t.toLong, t.toLong,
      if (t == 7) 250L else if (t == 12) 300L else 100L)) ++
      Seq((2L, 1L, 1L, 100L), (2L, 2L, 2L, 900L))
    val (b1, b2) = rows.partition(_._2 <= 8)
    def csv(rs: Seq[(Long, Long, Long, Long)]) =
      "k;ts;tie;v\n" + rs.map(r => s"${r._1};${r._2};${r._3};${r._4}").mkString("\n")
    val f1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"), csv(b1))
    val f2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"), csv(b2))
    f1.setLastModified(System.currentTimeMillis() - 60000)
    f2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("tie", LongType),
      StructField("v", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("sep", ";").option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
      .as[(Long, Long, Long, Long)]
    val q = StreamingImport.anomalyStream(stream)
      .toDF("k", "ts", "tie", "v", "window_n")
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT k, ts, tie, v, window_n FROM anom_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    // the batch operator on the same rows must produce the same flags —
    // the streaming state gate IS the batch window, replayed in order
    val batch = RollingAnomaly.anomalies(
        rows.toDF("k", "ts", "tie", "v"), "k", "ts", "tie", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(got.nonEmpty && got.toSeq === batch.toSeq)
    // sanity: exactly the two spikes flag
    assert(got.map(x => (x._1, x._2)).toSeq === Seq((1L, 7L), (1L, 12L)))
  }

  test("stateful streaming dedup: first occurrence passes, later batches drop") {
    val dir = SyntheticFixtures.dir(s"ddstream_${System.nanoTime()}")
    // two files + maxFilesPerTrigger=1 → two sequential micro-batches in
    // one query: batch 2 re-sends key 1, which keyed state must drop
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"), "k;v\n1;a\n1;dup\n2;b")
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"), "k;v\n1;late-dup\n3;c")
    // the file source orders batches by modification time — pin it
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val stream = spark.readStream.schema(schema)
      .option("sep", ";").option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .csv(dir.getPath).as[(Int, String)]
    val deduped = StreamingImport.dedupStream[Int, (Int, String)](stream, _._1)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dd_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val all = spark.sql("SELECT * FROM dd_out")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    // exactly one row per key: in-batch dup of key 1 dropped, AND its
    // re-appearance in the later micro-batch dropped by keyed state
    assert(all.toSeq == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("stageMonthly: one single-file directory per month, time-ordered") {
    val dir = java.nio.file.Files.createTempDirectory("stage-monthly-")
    try {
      val df = Seq(Some("2024-03-05 10:00:00"), Some("2024-01-20 00:00:00"),
          None, Some("2024-03-30 23:59:59"), Some("2024-02-01 00:00:00"))
        .toDF("s").select(to_timestamp(col("s")).as("ts"))
      graft.SparkEntry.stageMonthly(df, date_trunc("month", col("ts")), dir)
      val months = dir.toFile.listFiles().filter(_.isDirectory)
        .sortBy(_.getName).toSeq
      // the null month has no directory
      assert(months.map(_.getName) === Seq("m000", "m001", "m002"))
      val files = months.map(_.listFiles().filterNot(f =>
        f.getName.startsWith(".") || f.getName.startsWith("_")).toSeq)
      assert(files.map(_.size) === Seq(1, 1, 1))
      val mtimes = files.map(_.head.lastModified())
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
      val perMonth = months.map(m => spark.read.parquet(m.getPath)
        .select(date_format(col("ts"), "yyyy-MM")).as[String].collect().toSeq)
      assert(perMonth === Seq(Seq("2024-01"), Seq("2024-02"),
        Seq("2024-03", "2024-03")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("drains leave no sink, query, conf or temp directory behind") {
    val d = sf()
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def drainDirs = tmpRoot.list().filter(_.startsWith("graft-q")).toSet
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val confBefore = keys.map(spark.conf.getOption)
    val dirsBefore = drainDirs
    val dedups = Seq.fill(2)(graft.SparkEntry.q210StreamDedup(spark, d))
    val totals = graft.SparkEntry.q261StreamRunningTotals(spark, d)
    assert(spark.catalog.listTables().collect()
      .filter(_.name.contains("_sink_")).isEmpty)
    assert(spark.streams.active.isEmpty)
    assert(keys.map(spark.conf.getOption) === confBefore)
    assert((drainDirs -- dirsBefore).isEmpty)
    // the returned frames outlive their sink view and staging directory
    val ev = graft.Tables.events(spark, d)
    val users = ev.select(col("user_id")).distinct().orderBy(col("user_id"))
      .collect().toSeq
    dedups.foreach(f => assert(f.collect().toSeq === users))
    val sums = ev.filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")))
      .orderBy(col("user_id")).collect().toSeq
    assert(totals.collect().toSeq === sums)
  }

  test("RocksDB state store opt-in: provider set, stateful dedup identical") {
    // default session: HDFS-backed provider (the zero-setup path)
    val before = StreamingImport.configureStateStore(spark)
    assert(before.contains("HDFSBackedStateStoreProvider"), before)
    sys.props("graft.stream.state") = "rocksdb"
    try {
      val now = StreamingImport.configureStateStore(spark)
      assert(now ===
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // same dedup contract as the HDFS-backed test above, now with the
      // keyed state living in RocksDB — and the progress metrics must
      // prove the provider actually ran (not just the conf flipping)
      val dir = SyntheticFixtures.dir(s"ddrocks_${System.nanoTime()}")
      val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
        "k;v\n1;a\n1;dup\n2;b")
      val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
        "k;v\n1;late-dup\n3;c")
      b1.setLastModified(System.currentTimeMillis() - 60000)
      b2.setLastModified(System.currentTimeMillis())
      val stream = spark.readStream.schema(schema)
        .option("sep", ";").option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(dir.getPath).as[(Int, String)]
      val deduped = StreamingImport.dedupStream[Int, (Int, String)](stream, _._1)
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName("dd_rocks_out")
        .option("checkpointLocation", new File(dir, "_cp").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val all = spark.sql("SELECT * FROM dd_rocks_out")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      assert(all.toSeq == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
      val progressJson = q.recentProgress.map(_.json).mkString
      assert(progressJson.toLowerCase.contains("rocksdb"),
        s"no RocksDB state metrics in progress:\n${progressJson.take(800)}")
    } finally {
      sys.props.remove("graft.stream.state")
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("watermark-bounded streaming dedup drops in-window duplicates") {
    val dir = SyntheticFixtures.dir(s"ddwm_${System.nanoTime()}")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "k;ts;v\n1;2026-01-01 10:00:00;a\n1;2026-01-01 10:00:30;dup\n2;2026-01-01 10:01:00;b")
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "k;ts;v\n1;2026-01-01 10:02:00;still-in-window-dup\n3;2026-01-01 10:03:00;c")
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schemaWm = org.apache.spark.sql.types.StructType.fromDDL(
      "k INT, ts TIMESTAMP, v STRING")
    val stream = spark.readStream.schema(schemaWm)
      .option("sep", ";").option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .csv(dir.getPath)
    val deduped = StreamingImport.dedupStreamWithinWatermark(
      stream, Seq("k"), "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ddwm_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val all = spark.sql("SELECT k, v FROM ddwm_out")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    // both duplicates of key 1 land inside the 10-minute state window →
    // dropped; each key survives exactly once
    assert(all.toSeq == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("stream-stream interval join pairs events within the time bound") {
    val dirL = SyntheticFixtures.dir(s"ssjL_${System.nanoTime()}")
    val dirR = SyntheticFixtures.dir(s"ssjR_${System.nanoTime()}")
    SyntheticFixtures.writeText(new File(dirL, "l.csv"),
      "k;lts;lv\n1;2026-01-01 10:00:00;click\n2;2026-01-01 11:00:00;click")
    // right events: one 30 s after key 1's left event (in bound), one
    // 10 min after (out of bound), one 30 s BEFORE key 2's (out: lower=0)
    SyntheticFixtures.writeText(new File(dirR, "r.csv"),
      "rk;rts;rv\n1;2026-01-01 10:00:30;buy\n1;2026-01-01 10:10:00;buy\n2;2026-01-01 10:59:30;buy")
    val sL = org.apache.spark.sql.types.StructType.fromDDL(
      "k INT, lts TIMESTAMP, lv STRING")
    val sR = org.apache.spark.sql.types.StructType.fromDDL(
      "rk INT, rts TIMESTAMP, rv STRING")
    def src(dir: File, s: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(s).option("sep", ";").option("header", "true")
        .csv(dir.getPath)
    val joined = StreamingImport.intervalJoinStreams(
      src(dirL, sL), src(dirR, sR), "k", "rk", "lts", "rts",
      delay = "1 minute", lowerBoundS = 0L, upperBoundS = 60L)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .option("checkpointLocation", new File(dirL, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT k, lv, rv, rts FROM ssj_out")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    // only key 1's 30-seconds-later purchase falls in [lts, lts+60s]
    assert(got == Seq((1, "click", "buy")))
  }

  test("left-outer interval join: unmatched rows emit only past the watermark") {
    val dirL = SyntheticFixtures.dir(s"ssoL_${System.nanoTime()}")
    val dirR = SyntheticFixtures.dir(s"ssoR_${System.nanoTime()}")
    // key 1 matches; key 2 is unmatched EARLY (its window closes long
    // before the final watermark → null row emits); key 3 is unmatched
    // at the stream END (window still open at the last watermark →
    // stays in state, emits nowhere)
    SyntheticFixtures.writeText(new File(dirL, "l.csv"),
      "k;lts;lv\n1;2026-01-01 10:00:00;click\n2;2026-01-01 10:01:00;click\n3;2026-01-01 11:59:59;click")
    SyntheticFixtures.writeText(new File(dirR, "r.csv"),
      "rk;rts;rv\n1;2026-01-01 10:00:30;buy\n9;2026-01-01 12:00:00;buy")
    val sL = org.apache.spark.sql.types.StructType.fromDDL(
      "k INT, lts TIMESTAMP, lv STRING")
    val sR = org.apache.spark.sql.types.StructType.fromDDL(
      "rk INT, rts TIMESTAMP, rv STRING")
    def src(dir: File, s: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(s).option("sep", ";").option("header", "true")
        .csv(dir.getPath)
    val joined = StreamingImport.intervalJoinStreams(
      src(dirL, sL), src(dirR, sR), "k", "rk", "lts", "rts",
      delay = "0 seconds", lowerBoundS = 0L, upperBoundS = 60L,
      joinType = "left_outer")
    val sink = s"sso_out_${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(sink)
      .option("checkpointLocation", new File(dirL, "_cp").getPath)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(sink).select(col("k"), col("rv"))
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    // 1 matched, 2 null-extended, 3 withheld (wm = min side-max =
    // 11:59:59 from the left; 3's window end 12:00:59 ≥ wm)
    assert(got === Set((1, Some("buy")), (2, None)))
  }

  test("stream-static enrichment join: inner drops unmatched, left keeps them") {
    val dir = SyntheticFixtures.dir(s"sstat_${System.nanoTime()}")
    SyntheticFixtures.writeText(new File(dir, "s.csv"),
      "k;v\n1;a\n2;b\n9;c") // 9 has no dimension row
    val sch = org.apache.spark.sql.types.StructType.fromDDL("k INT, v STRING")
    val dim = Seq((1, "one"), (2, "two")).toDF("dk", "dname")
    def run(joinType: String, name: String) = {
      val stream = spark.readStream.schema(sch).option("sep", ";")
        .option("header", "true").csv(dir.getPath)
      val joined = StreamingImport.enrichWithStatic(
        stream, dim, col("k") === col("dk"), joinType)
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", new File(dir, s"_cp_$name").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name).select("k", "dname")
        .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq.sorted
    }
    assert(run("inner", "sstat_inner") ==
      Seq((1, Some("one")), (2, Some("two"))))
    assert(run("left", "sstat_left") ==
      Seq((1, Some("one")), (2, Some("two")), (9, None)))
  }

  test("watermarked windowed aggregation over an event stream (memory sink)") {
    val dir = SyntheticFixtures.dir(s"evstream_${System.nanoTime()}")
    val ts1 = "2024-01-01 10:05:00"
    val ts2 = "2024-01-01 10:55:00"
    val ts3 = "2024-01-01 11:05:00"
    SyntheticFixtures.writeText(new File(dir, "ev.csv"),
      s"ts;event_type;value\n$ts1;click;1.0\n$ts2;click;2.0\n$ts3;view;5.0")
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(evSchema)
      .option("sep", ";").option("header", "true").csv(dir.getPath)
    val agg = StreamingImport.windowedEventStats(stream, "ts", "1 hour",
      "10 minutes", Seq("event_type"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(s"ev_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT window_start, event_type, n, sum_value FROM ev_out")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("session windows: gap merges events, >= gap starts a new session") {
    val dir = SyntheticFixtures.dir(s"sesstream_${System.nanoTime()}")
    // user u1: 10:00 and 10:20 chain (20 min < 30-min gap); 11:00 is
    // >= 30 min after 10:20's session end window → new session
    SyntheticFixtures.writeText(new File(dir, "ev.csv"),
      "ts;user_id;value\n" +
        "2024-01-01 10:00:00;u1;1.0\n" +
        "2024-01-01 10:20:00;u1;2.0\n" +
        "2024-01-01 11:00:00;u1;4.0\n" +
        "2024-01-01 10:00:00;u2;8.0")
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(evSchema)
      .option("sep", ";").option("header", "true").csv(dir.getPath)
    val agg = StreamingImport.sessionEventStats(stream, "ts", "30 minutes",
      "10 minutes", Seq("user_id"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT session_start, user_id, n, sum_value FROM sess_out")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "u1", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "u1", 1L, 4.0),
      ("2024-01-01 10:00:00.0", "u2", 1L, 8.0)))
  }

  test("streaming curation pipeline equals its batch counterpart") {
    val dir = SyntheticFixtures.dir(s"curstream_${System.nanoTime()}")
    // doc set with: a high-quality doc, an exact copy arriving in a LATER
    // micro-batch (must drop), and a low-quality short doc (must gate)
    val good = "the quick brown fox jumps over the lazy dog and the cat " +
      "sat on the mat for a while in the sun of it all"
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      s"id;text\nd1;$good\nd2;!!!")
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      s"id;text\nd3;$good\nd4;$good extended with more words to differ")
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("sep", ";").option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    val curated = StreamingImport.curationStream(stream, "id", "text",
      minQuality = 0.3)
    val q = curated.toDF("id", "text", "quality", "n_tokens")
      .writeStream.outputMode("append")
      .format("memory").queryName("cur_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT id, n_tokens FROM cur_out")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // d1 passes; d2 gated (quality); d3 = exact copy of d1 in a later
    // batch → keyed state drops it; d4 differs → passes
    assert(got.map(_._1).toSeq == Seq("d1", "d4"))
    // replaying the same set through the BATCH pipeline stages yields the
    // same survivors: gate on quality, keep first per fingerprint
    val ta = graft.functions.TextAnalysis
    val batch = Seq(("d1", good), ("d2", "!!!"), ("d3", good),
      ("d4", good + " extended with more words to differ"))
      .toDF("id", "text")
      .withColumn("q", ta.qualityScore(col("text")))
      .filter(col("q") >= 0.3)
      .withColumn("fp", ta.fingerprintMd5(col("text")))
    val batchKept = graft.operators.Dedup.dropDuplicatesKeepFirst(
        batch, Seq("fp"), Seq(col("id")))
      .select("id").collect().map(_.getString(0)).sorted
    assert(batchKept.toSeq == got.map(_._1).toSeq)
  }

  test("streaming CMS counters equal the batch sketch of all batches") {
    val dir = SyntheticFixtures.dir(s"cmsstream_${System.nanoTime()}")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "tok\n" + (0 until 50).map(i => s"w${i % 7}").mkString("\n"))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "tok\n" + (0 until 30).map(i => s"w${i % 11}").mkString("\n"))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("tok", StringType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    val q = StreamingImport.cmsStream(stream, "tok", depth = 4, width = 32)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT row_idx, bucket, cnt FROM cms_out")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the state store's incremental merge must equal one batch sketch
    // over the union of all micro-batches
    val all = ((0 until 50).map(i => s"w${i % 7}") ++
      (0 until 30).map(i => s"w${i % 11}")).toDF("tok")
    val batch = graft.operators.Sketches.cmsSketch(all, "tok", 4, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("streaming HLL registers equal the batch sketch of all batches") {
    val dir = SyntheticFixtures.dir(s"hllstream_${System.nanoTime()}")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "tok\n" + (0 until 60).map(i => s"u$i").mkString("\n"))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "tok\n" + (40 until 90).map(i => s"u$i").mkString("\n"))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("tok", StringType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    val q = StreamingImport.hllStream(stream, Nil, "tok", p = 6)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT bucket, rho FROM hll_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-bucket max in the state store IS the HLL merge
    val all = ((0 until 60) ++ (40 until 90)).map(i => s"u$i").toDF("tok")
    val batch = graft.operators.Sketches.hllRegisters(all, Nil, "tok", 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    // and the estimate built from the streamed registers matches too
    val estS = graft.operators.Sketches.hllEstimate(
      spark.sql("SELECT bucket, rho FROM hll_out"), Nil, 6)
      .collect().head.getDouble(2)
    val estB = graft.operators.Sketches.hllEstimate(
      graft.operators.Sketches.hllRegisters(all, Nil, "tok", 6), Nil, 6)
      .collect().head.getDouble(2)
    assert(estS === estB)
  }

  test("streaming histogram bins equal the batch sketch; quantiles match") {
    val dir = SyntheticFixtures.dir(s"histstream_${System.nanoTime()}")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "v\n" + (0 until 80).map(i => (i * 7) % 200).mkString("\n"))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "v\n" + (0 until 50).map(i => (i * 13) % 300).mkString("\n"))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("v", LongType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    val q = StreamingImport.histStream(stream, "v", binWidth = 25L)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hist_out")
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT bin, cnt FROM hist_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = ((0 until 80).map(i => (i * 7) % 200) ++
      (0 until 50).map(i => (i * 13) % 300)).map(_.toLong).toDF("v")
    val batch = graft.operators.Sketches.histSketch(all, "v", 25L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    val qs = graft.operators.Sketches.histQuantiles(
        spark.sql("SELECT bin, cnt FROM hist_out"), 25L, Seq(500000L))
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    val qb = graft.operators.Sketches.histQuantiles(
        graft.operators.Sketches.histSketch(all, "v", 25L), 25L, Seq(500000L))
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(qs.toSeq === qb.toSeq)
  }

  test("streaming KMV merge equals the batch sketch of all batches") {
    val dir = SyntheticFixtures.dir(s"kmvstream_${System.nanoTime()}")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "tok\n" + (0 until 70).map(i => s"v${i % 40}").mkString("\n"))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "tok\n" + (0 until 60).map(i => s"v${20 + i % 45}").mkString("\n"))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("tok", StringType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    @volatile var last = Seq.empty[(Long, Long, String)]
    val q = StreamingImport.kmvStream(stream, Nil, "tok", k = 16,
        onUpdate = s => last = s.select("rk", "h", "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .start()
    q.awaitTermination(120000)
    val all = ((0 until 70).map(i => s"v${i % 40}") ++
      (0 until 60).map(i => s"v${20 + i % 45}")).toDF("tok")
    val batch = graft.operators.Sketches.kmvSketch(all, Nil, "tok", 16)
      .select("rk", "h", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(last.sortBy(_._1) === batch.sortBy(_._1))
  }

  test("streaming funnel stage times equal the batch fold") {
    val dir = SyntheticFixtures.dir(s"funnelstream_${System.nanoTime()}")
    // u1 completes A->B->C across the batch boundary; u2 does B before
    // A (B must NOT count); u3 stalls at A
    val b1rows = Seq((1L, "A", 10L), (1L, "B", 20L), (2L, "B", 5L),
      (2L, "A", 15L), (3L, "A", 30L))
    val b2rows = Seq((1L, "C", 40L), (2L, "B", 50L), (3L, "A", 60L))
    def csv(rows: Seq[(Long, String, Long)]) =
      "u;t;ts\n" + rows.map(r => s"${r._1};${r._2};${r._3}").mkString("\n")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"), csv(b1rows))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"), csv(b2rows))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("u", LongType),
      StructField("t", StringType), StructField("ts", LongType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("sep", ";").option("maxFilesPerTrigger", "1").csv(dir.getPath)
      .as[(Long, String, Long)]
    val got = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val q = StreamingImport.funnelStream(stream, Seq("A", "B", "C"))
      .writeStream.outputMode("append").foreachBatch {
        (b: org.apache.spark.sql.Dataset[(Long, Int, Long)], _: Long) =>
          got.synchronized { got ++= b.collect() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .start()
    q.awaitTermination(120000)
    val batch = graft.operators.Funnel.stageTimes(
        (b1rows ++ b2rows).toDF("u", "t", "ts"), "u", "t", "ts",
        Seq("A", "B", "C"))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(got.toSet === batch)
    // sanity of the scenario itself: u1 full funnel, u2 B-after-A at
    // 50 (the ts-5 B ignored), u3 A only
    assert(batch === Set((1L, 0, 10L), (1L, 1, 20L), (1L, 2, 40L),
      (2L, 0, 15L), (2L, 1, 50L), (3L, 0, 30L)))
  }

  test("streaming heavy hitters keep the MG guarantee over all batches") {
    val dir = SyntheticFixtures.dir(s"hhstream_${System.nanoTime()}")
    // planted heavy item 'hot' (90 of 290 rows) across two batches,
    // plus a long tail of near-unique items
    val b1rows = Seq.fill(50)("hot") ++ (0 until 100).map(i => s"t$i")
    val b2rows = Seq.fill(40)("hot") ++ (0 until 100).map(i => s"u$i")
    val b1 = SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "tok\n" + b1rows.mkString("\n"))
    val b2 = SyntheticFixtures.writeText(new File(dir, "b2.csv"),
      "tok\n" + b2rows.mkString("\n"))
    b1.setLastModified(System.currentTimeMillis() - 60000)
    b2.setLastModified(System.currentTimeMillis())
    val schema = StructType(Seq(StructField("tok", StringType)))
    val stream = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(dir.getPath)
    @volatile var last = Map.empty[String, Long]
    val k = 8
    val q = StreamingImport.heavyHittersStream(stream, "tok", k,
        onUpdate = m => last = m)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .start()
    q.awaitTermination(120000)
    val n = (b1rows ++ b2rows).size.toLong
    val trueHot = 90L
    // guarantee: hot (count > n/(k+1) = 32) survives both merges, its
    // counter undercounts by at most n/(k+1), never overcounts
    assert(last.contains("hot"))
    assert(last("hot") <= trueHot && last("hot") >= trueHot - n / (k + 1L))
    assert(last.size <= k) // standing state stays sketch-sized
  }

  test("streaming near-dup probe against a standing LSH index") {
    import graft.operators.TextDedup
    val corpus = graft.Tables.documents(spark, sf()).limit(100)
      .select(col("doc_id"), col("text"))
    val idxPath = new File(SyntheticFixtures.dir("lshindex"), "streamspec").getPath
    TextDedup.writeLshIndex(corpus, "doc_id", "text", idxPath)
    // stream in mutated copies of every 4th doc as arriving documents
    val arriving = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 9000).as("doc_id"),
        regexp_replace(col("text"), "^(\\S+\\s+){2}", "").as("text"))
      .collect().map(r => s"${r.getLong(0)};${r.getString(1)}")
    val dir = SyntheticFixtures.dir(s"neardupstream_${System.nanoTime()}")
    SyntheticFixtures.writeText(new File(dir, "b1.csv"),
      "doc_id;text\n" + arriving.mkString("\n"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    @volatile var matches = Seq.empty[(Long, Long)]
    val q = StreamingImport.nearDupStream(
        StreamingImport.csvStream(spark, dir.getPath, docSchema),
        "doc_id", "text", idxPath, threshold = 0.5,
        onMatches = m => matches = matches ++ m.select("new_id", "corpus_id")
          .as[(Long, Long)].collect())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "_cp").getPath)
      .start()
    q.awaitTermination(60000)
    // every mutated doc must match its origin
    val expected = corpus.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id")).as[Long].collect().map(id => (id + 9000, id)).toSet
    assert(expected.subsetOf(matches.toSet) && matches.nonEmpty)
  }
}
