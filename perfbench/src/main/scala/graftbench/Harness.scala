package graftbench

import java.io.{File, FileWriter, PrintWriter}
import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Named spans around the calls the harness makes; the innermost open
  * one names where a timed-out operation was stuck.
  */
object Spans {
  @volatile var current: String = ""
  @volatile var recorder: Option[Recorder] = None

  def apply[A](name: String)(body: => A): A = {
    val prev = current
    current = name
    val t0 = System.currentTimeMillis()
    try body
    finally {
      recorder.foreach(_.span(name, t0, System.currentTimeMillis()))
      current = prev
    }
  }
}

/** The JVM side of the benchmark. `perfbench/run.py` writes a plan file
  * (workload, inputs, seconds, trace flag, output directory) and starts
  * this main with its path; the harness streams one JSON line per
  * finished operation to `ops.jsonl`, so a killed run keeps its record.
  */
object Harness {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val out = new File(plan.get("out_dir").asText)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("local_dir").asText)
      .config("spark.sql.warehouse.dir", plan.get("warehouse_dir").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tw = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warmupS = secs(tw)

    val w = new ImportWorkload(spark, plan, out)
    val setupS = (1 to plan.get("setup_reps").asInt).map { _ =>
      val t0 = System.nanoTime(); w.setup(); secs(t0)
    }
    writeFile(new File(out, "setup.json"), Json.obj("session_s" -> sessionS,
      "warmup_s" -> warmupS, "setup_s" -> setupS))

    val trace = plan.get("trace").asInt == 1
    val recorder = new Recorder
    if (trace) TracingDriver.install(plan.get("jdbc_url").asText)
    val seconds = plan.get("seconds").asDouble
    val capS = plan.get("cap_s").asLong
    val ops = new PrintWriter(new FileWriter(new File(out, "ops.jsonl")))
    val events = new PrintWriter(new FileWriter(new File(out, "trace.jsonl")))
    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }
    val minOps = plan.get("min_ops").asInt
    // the clock starts after the cold operation: `seconds` is warm time
    var loopStart = System.nanoTime()
    var i = 0
    while (i < minOps || secs(loopStart) < seconds) {
      // the first operation is the cold one; after it, traced runs
      // alternate traced and untraced operations so the tracing
      // overhead can be read off the same run
      val traced = trace && i % 2 == 1
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        Spans.recorder = Some(recorder)
        TracingDriver.recorder = Some(recorder)
      }
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val done = new CountDownLatch(1)
      val group = s"perfbench-op-$i"
      val f = pool.submit(() => {
        try {
          sc.setJobGroup(group, "import", interruptOnCancel = true)
          Spans("import")(w.run())
        } finally done.countDown()
      })
      val result: Either[Map[String, Any], Map[String, Any]] =
        try Right(f.get(capS, TimeUnit.SECONDS))
        catch {
          case _: TimeoutException =>
            // name where the operation is stuck before cancelling it
            val stages = sc.statusTracker.getActiveStageIds.toSeq
              .flatMap(id => sc.statusTracker.getStageInfo(id)).map(_.name)
            val where = Map("error" -> "timeout", "span" -> Spans.current,
              "running_jobs" -> stages)
            sc.cancelJobGroup(group)
            f.cancel(true)
            if (!done.await(15, TimeUnit.SECONDS)) {
              // a thread stuck in the planner ignores interrupts: record
              // the operation and end the JVM, the run is over anyway
              ops.println(Json.obj(Seq("i" -> i, "name" -> "import",
                "wall_s" -> capS.toDouble, "traced" -> traced) ++ where.toSeq ++
                Seq("halted" -> true): _*))
              ops.flush()
              Runtime.getRuntime.halt(3)
            }
            Left(where)
          case e: ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            Left(Map("error" -> s"${c.getClass.getSimpleName}: ${c.getMessage}".take(300)))
        }
      val wall = result.fold(_ => capS.toDouble.max(secs(t0)), _ => secs(t0))
      val t1ms = System.currentTimeMillis()
      if (traced) {
        org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
        Spans.recorder = None
        TracingDriver.recorder = None
        events.println(Json.obj("ev" -> "op", "i" -> i, "name" -> "import",
          "t0" -> t0ms, "t1" -> t1ms))
        recorder.drain().foreach(events.println)
        events.flush()
      }
      val checked = scala.util.Try(w.after(i)).fold(
        e => Map[String, Any]("check_error" -> e.toString.take(300)), identity)
      val fields = Seq("i" -> i, "name" -> "import",
        "wall_s" -> wall, "traced" -> traced) ++
        result.fold(_.toSeq, _.toSeq) ++ checked.toSeq
      ops.println(Json.obj(fields: _*))
      ops.flush()
      if (i == 0) loopStart = System.nanoTime()
      i += 1
    }
    ops.close()
    events.close()
    writeFile(new File(out, "summary.json"), Json.obj("peak_rss_mb" -> peakRssMb()))
    pool.shutdownNow()
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def writeFile(f: File, s: String): Unit =
    java.nio.file.Files.writeString(f.toPath, s + "\n")

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText).toSeq
}
