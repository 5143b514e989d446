package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry, operators}

/** Per-job profile of SparkEntry queries and artifacts. Each named entry
  * runs the way Bench runs it (a query to the noop sink, an artifact by
  * forcing its builder); then its wall time and one line per job
  * (duration, per-stage task count and summed task time, description),
  * longest first, are printed, and `Retained` and the cache are cleared.
  * A name given twice runs twice: the repeats separate JIT and codegen
  * warm-up from steady-state cost. With `planDir tag`, each query's
  * `explain("formatted")` is also written to `<planDir>/<entry>_<tag>.txt`,
  * the form of the before/after plan files under `plans/rNN/`.
  *
  * Usage: runMain graft.tools.Profile <entry[,entry…]> [planDir tag]
  * Reads SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS as Bench does.
  */
object Profile {

  /** One profiled run: wall seconds, the job lines (longest first) and
    * the failure, if the entry threw. */
  final case class Run(entry: String, seconds: Double, jobs: Seq[String],
                       error: Option[String])

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 3,
      "usage: Profile <entry[,entry…]> [planDir tag]")
    val names = Bench.entryNames(args(0))
    val plans = if (args.length == 3) Some((args(1), args(2))) else None
    val sfDir = Bench.envSfDir
    val spark = Bench.session(Bench.envCpus)
    try {
      Bench.warm(spark, sfDir)
      run(spark, sfDir, names, plans)
    } finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String],
          plans: Option[(String, String)] = None): Seq[Run] = {
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    try names.map { name =>
      jobs.clear()
      val t0 = System.nanoTime()
      val result: Either[String, Option[DataFrame]] =
        try Right(SparkEntry.queries.get(name) match {
          case Some(fn) =>
            val df = fn(spark, sfDir)
            df.write.format("noop").mode("overwrite").save()
            Some(df)
          case None =>
            SparkEntry.artifacts.toMap.apply(name)(spark, sfDir)
            None
        }) catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          println(s"== $name FAILED $msg")
          Left(msg)
        }
      val seconds = (System.nanoTime() - t0) / 1e9
      for ((dir, tag) <- plans; d <- result.toOption.flatten) {
        val path = Paths.get(dir, s"${name}_$tag.txt")
        Files.createDirectories(path.getParent)
        Files.writeString(path, d.queryExecution.explainString(FormattedMode))
        println(s"wrote $path")
      }
      val lines = jobs.lines()
      println(f"== $name total $seconds%.2f s, ${lines.size} jobs")
      lines.take(12).foreach(println)
      operators.Retained.releaseAll(spark)
      spark.catalog.clearCache()
      Run(name, seconds, lines, result.left.toOption)
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** Jobs and completed stages seen since the last [[clear]]. */
  private final class JobListener extends SparkListener {
    private case class Job(start: Long, desc: String, stageIds: Seq[Int],
                           end: Option[Long] = None)
    private val jobs = TrieMap[Int, Job]()
    private val stages = TrieMap[Int, StageInfo]()
    @volatile private var lastEventNs = System.nanoTime()

    def clear(): Unit = { jobs.clear(); stages.clear() }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs(j.jobId) = Job(j.time,
        Option(j.properties.getProperty("spark.job.description")).getOrElse(""),
        j.stageIds)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      jobs.get(j.jobId).foreach(x => jobs(j.jobId) = x.copy(end = Some(j.time)))
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages(s.stageInfo.stageId) = s.stageInfo
      lastEventNs = System.nanoTime()
    }

    /** A job's end is posted before its action returns but delivered
      * asynchronously: wait (up to 10 s) until every job seen has ended
      * and no event arrived for 200 ms, then render one line per job. */
    def lines(): Seq[String] = {
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() < deadline &&
          (jobs.values.exists(_.end.isEmpty) ||
            System.nanoTime() - lastEventNs < 200000000L))
        Thread.sleep(20)
      jobs.toSeq.map { case (id, j) => (id, j.end.getOrElse(j.start) - j.start, j) }
        .sortBy(-_._2).map { case (id, ms, j) =>
          val st = j.stageIds.flatMap(stages.get).map(s =>
            s"${s.numTasks}t/${s.taskMetrics.executorRunTime}ms ${s.name.take(45)}")
          f"job $id%4d ${ms / 1000.0}%8.2f s  [${st.mkString(" + ")}]  ${j.desc.take(60)}"
        }
    }
  }
}
