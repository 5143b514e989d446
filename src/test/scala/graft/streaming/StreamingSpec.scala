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
    def csvStream() = spark.readStream.schema(schema)
      .option("sep", ";").option("header", "true").csv(dir.getPath)
    val stream = csvStream()
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
        csvStream(), Seq("k"),
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

  test("stageMonthly drains q212/q214/q311 finish and leave no temp directory") {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val d = sf()
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def drainDirs = tmpRoot.list().filter(_.startsWith("graft-q")).toSet
    val dirsBefore = drainDirs
    Seq("q212_stream_append", "q214_stream_upsert", "q311_stream_outer_join").foreach { name =>
      // a wall-clock cap that does not rely on the drain noticing an
      // interrupt: a planner stall ignores one
      val run = Future(graft.SparkEntry.queries(name)(spark, d).count())
      val rows =
        try Await.result(run, 300.seconds)
        catch {
          case _: TimeoutException =>
            spark.streams.active.foreach(_.stop())
            fail(s"$name did not finish within 300 s")
        }
      assert(rows > 0, name)
      assert((drainDirs -- dirsBefore).isEmpty, name)
    }
  }

  test("RocksDB state store opt-in: provider set, stateful dedup identical") {
    // default session: HDFS-backed provider (the zero-setup path); the
    // opt-in is Spark's own provider conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.get(key)
    assert(before.contains("HDFSBackedStateStoreProvider"), before)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
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
    } finally spark.conf.unset(key)
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
}
