package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace events of a traced run, all on the epoch-millisecond clock
  * the Spark listener events carry. The recorder only collects; layer
  * attribution and self-time arithmetic happen in `perfbench/layers.py`.
  *
  *  - jobs: start/end, the call site (short form and the user stack of
  *    the long form), the SQL execution and the stage ids;
  *  - SQL executions: their call site, for jobs submitted off-thread;
  *  - stages: task count and the aggregated task metrics of each
  *    completed stage, plus the `graft.*` named accumulators;
  *  - plans: the `QueryPlanningTracker` phases of each query execution;
  *  - jdbc: driver-side JDBC statements, see [[TracingDriver]];
  *  - spans: the calls the harness itself makes.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val out = mutable.ArrayBuffer.empty[String]

  private def add(line: String): Unit = synchronized { out += line }

  /** Drain everything recorded so far (the caller has flushed the bus). */
  def drain(): Seq[String] = synchronized {
    val r = out.toList; out.clear(); r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.maxBy(_.stageId)
    // jobs AQE submits from its own threads carry no user frames; the
    // SQL execution they belong to does
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    add(Json.obj("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "short" -> last.name, "frames" -> Frames.userFrames(last.details),
      "exec" -> exec, "stages" -> e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      add(Json.obj("ev" -> "sql", "exec" -> s.executionId, "short" -> s.description,
        "frames" -> Frames.userFrames(s.details)))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add(Json.obj("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val accums = si.accumulables.values.toSeq.flatMap { a =>
      a.name.filter(_.startsWith("graft.")).flatMap(n =>
        a.value.flatMap(v => scala.util.Try(v.toString.toLong).toOption)
          .map(n -> _))
    }
    add(Json.obj("ev" -> "stage", "stage" -> si.stageId,
      "tasks" -> si.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "records_read" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "accums" -> accums.groupMapReduce(_._1)(_._2)(_ + _)))
  }

  private def plan(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      add(Json.obj("ev" -> "plan", "phase" -> phase,
        "t0" -> s.startTimeMs, "t1" -> s.endTimeMs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  /** One driver-side JDBC statement (called by [[TracingDriver]]). */
  def jdbc(t0: Long, t1: Long, sql: String, rows: Long, frames: Seq[String]): Unit =
    add(Json.obj("ev" -> "jdbc", "t0" -> t0, "t1" -> t1,
      "sql" -> sql.take(120), "rows" -> rows, "frames" -> frames))

  /** A span the harness itself opened and closed. */
  def span(name: String, t0: Long, t1: Long): Unit =
    add(Json.obj("ev" -> "span", "name" -> name, "t0" -> t0, "t1" -> t1))
}

/** User-code frames of a call site, innermost first, rendered as
  * `class.method(File.scala:line)`; Spark, Scala and JDK frames dropped.
  */
object Frames {
  def userFrames(longForm: String): Seq[String] =
    Option(longForm).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft"))

  def current(): Seq[String] =
    Thread.currentThread.getStackTrace.toSeq
      .filter(_.getClassName.startsWith("graft"))
      .map(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
}
