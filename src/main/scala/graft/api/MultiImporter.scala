package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.JdbcSink
import graft.sources.TableNames

/** Multi-file wildcard import (reference DbImportMultiWorker.java:39-130,
  * SURVEY §3.2): expand the `?`/`*` glob, sort file names, derive each
  * destination table when `-table '*'`, validate table existence up
  * front when not creating, and abort on the first error under
  * completeCommit. The reference's FK/trigger deactivation around the
  * batch (DbImportMultiWorker.java:71-105) is vendor DDL; the CLI
  * accepts its flags and prints a warning.
  */
object MultiImporter {

  case class FileResult(file: String, table: String,
                        result: Either[String, Importer.ImportResult])

  /** `errorsPath(file)` is where that file's erroneous rows go (the
    * CLI's `-logerrors`). `cfg.errorExportPath` is not used: one path
    * for every file would keep only the last file's rows.
    */
  def importGlob(spark: SparkSession, pattern: String, url: String,
                 tableSpec: String, cfg: Importer.ImportConfig,
                 readFile: (SparkSession, String) => DataFrame,
                 errorsPath: String => Option[String] = _ => None): Seq[FileResult] = {
    val files = TableNames.expandGlob(pattern)
    require(files.nonEmpty, s"no files match $pattern")
    val plan = files.map { f =>
      f -> (if (tableSpec == "*") TableNames.deriveTableName(f) else tableSpec)
    }
    // fail fast when -table '*' without -create and a table is missing
    // (DbImportMultiWorker.java:56-69)
    if (!cfg.createTableIfNeeded) {
      val missing = JdbcSink.withConnection(url) { c =>
        plan.map(_._2).distinct.filterNot(t => JdbcSink.tableExists(c, t))
      }
      require(missing.isEmpty, s"destination tables missing: ${missing.mkString(", ")}")
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[FileResult]
    val it = plan.iterator
    var aborted = false
    while (it.hasNext && !aborted) {
      val (file, table) = it.next()
      val r =
        try Right(Importer.importToJdbc(readFile(spark, file), url, table,
          cfg.copy(errorExportPath = errorsPath(file))))
        catch { case e: Exception => Left(e.getMessage) }
      out += FileResult(file, table, r)
      if (r.isLeft && cfg.completeCommit) aborted = true
    }
    out.toSeq
  }

  /** `analyseDataOnly` mode (reference DbImportWorker.java:141-143):
    * list the source's property names with inferred types for
    * interactive mapping.
    */
  def analyse(source: DataFrame): Seq[(String, String)] =
    graft.schema.TypeLattice.stats(source, source.columns.toIndexedSeq)
      .map(graft.schema.TypeLattice.decide)
      .map(i => i.columnName -> i.dataType)
}
