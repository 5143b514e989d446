package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Merge
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}
import graft.sink.JdbcSink

/** The import orchestrator — reference `DbImportWorker.work()`
  * (DbImportWorker.java:331-686, SURVEY §3.1) as a driver-side plan
  * builder:
  *
  *   source (raw strings) → mapping/transform select → validate (error
  *   side-channel) → one of three branches, picked by keys, import mode
  *   and duplicate mode alone:
  *    - FAST PATH: keyless INSERT/CLEARINSERT → batch append;
  *    - SQL MERGE (every other keyed import): one Spark plan orders,
  *      dedups and stages the source, the destination DB runs the merge
  *      SQL ([[graft.sink.JdbcMerge]], the reference's own strategy);
  *    - SPARK MERGE (UPDATE_FIRST_* and MAKE_UNIQUE_* only, which must
  *      tell target duplicates apart): the same ordinal → dedup → mode
  *      matrix as DataFrame joins → atomic rewrite of the JDBC target.
  */
object Importer {

  case class ImportConfig(mode: ImportMode = ImportMode.Insert,
                          duplicateMode: DuplicateMode = DuplicateMode.UpdateAllJoin,
                          keyColumns: Seq[String] = Nil,
                          mapping: Option[String] = None,
                          updateWithNull: Boolean = true,
                          batchSize: Int = 1000,
                          completeCommit: Boolean = false,
                          /** Global default date / datetime patterns
                            * (reference `-dateFormat`/`-dateTimeFormat`):
                            * tried FIRST for DATE/TIMESTAMP targets whose
                            * mapping has no explicit pattern.
                            */
                          dateFormat: Option[String] = None,
                          dateTimeFormat: Option[String] = None,
                          /** Reference `-noSingleMode`: a failed batch
                            * fails instead of replaying row-by-row.
                            */
                          preventSingleFallback: Boolean = false,
                          createTableIfNeeded: Boolean = false,
                          trimValues: Boolean = false,
                          importTz: String = "UTC", dbTz: String = "UTC",
                          createIndexIfNeeded: Boolean = true,
                          /** Ignored: the duplicate mode picks the merge
                            * (see the class doc). The import benchmark
                            * still sets it; its next change deletes it.
                            */
                          mergeInDb: Boolean = false,
                          /** Re-export the rows whose mapped values failed
                            * to parse here (reference erroneous-data file,
                            * §2.3): a `.json`/`.xml` path gets one file in
                            * that format, any other a CSV directory.
                            */
                          errorExportPath: Option[String] = None,
                          /** Additional insert/update values: extra
                            * target columns set from SQL expressions
                            * (reference `-insvalues`/`-updvalues`,
                            * DbImportWorker.java:939-948) on the rows the
                            * merge inserts / updates. Keyed imports
                            * evaluate them in the destination DB
                            * ([[graft.sink.JdbcMerge]], sequences work),
                            * except UPDATE_FIRST_* and MAKE_UNIQUE_*, which
                            * evaluate them in Spark like the keyless path.
                            */
                          additionalInsertValues: Map[String, String] = Map.empty,
                          additionalUpdateValues: Map[String, String] = Map.empty,
                          /** Source byte size for the statistics surface
                            * (reference "Imported data amount"); the CLI
                            * passes the import file's size.
                            */
                          dataAmount: Long = 0L)

  /** Per-run statistics (reference DbImportWorker.java:879-934):
    * counts, the source byte amount, wall-clock duration, and the
    * reference's items/second throughput figure.
    */
  case class ImportResult(found: Long, valid: Long, invalid: Long,
                          duplicates: Long, inserted: Long, updated: Long,
                          deleted: Long, finalCount: Long,
                          createdIndex: Option[String],
                          dataAmount: Long = 0L, durationMs: Long = 0L,
                          itemsPerSecond: Double = 0.0)

  /** Full import into a JDBC target. `source` carries raw (string-ish)
    * data columns as produced by the graft sources.
    */
  def importToJdbc(source: DataFrame, url: String, table: String,
                   cfg: ImportConfig): ImportResult = {
    val spark = source.sparkSession
    val startedAt = System.nanoTime()

    // --- destination schema: existing table or auto-create (-create) ---
    val exists = JdbcSink.withConnection(url)(c => JdbcSink.tableExists(c, table))
    if (!exists) {
      require(cfg.createTableIfNeeded, s"table $table does not exist")
      val inferred = graft.schema.TypeLattice.stats(source, source.columns.toIndexedSeq)
        .map(graft.schema.TypeLattice.decide)
      val schema = graft.schema.TypeLattice.toStructType(inferred)
      val sizes = inferred.filter(_.dataType == "VARCHAR")
        .map(i => i.columnName -> math.max(1, i.dataSize.toInt)).toMap
      JdbcSink.withConnection(url)(c =>
        JdbcSink.createTable(c, table, schema, cfg.keyColumns, sizes))
    }
    val target = spark.read.format("jdbc")
      .option("url", url).option("dbtable", s""""${table.toUpperCase}"""").load()
    // JDBC metadata uppercases names; normalize to lowercase like the
    // reference (DbImportMappingDialog.java:294)
    val targetLc = target.toDF(target.columns.map(_.toLowerCase).toIndexedSeq: _*)
    val targetSchema = targetLc.schema

    val found = source.count()
    // The reference ALWAYS validates: a value that fails its parse marks
    // the row invalid and the row is SKIPPED, with the run still exiting
    // 0 (DbImportTest_Derby.testCsvImportErrorDataType: the 123x456 row
    // is absent, exit code 0). Inserting a null instead would silently
    // corrupt the target, so the validation pass is unconditional;
    // `-logerrors`/errorExportPath only control the side-channel export.
    val (mapped, invalid) = {
      val trimmed = if (cfg.trimValues)
        source.select(source.columns.map(c => trim(col(s"`$c`")).as(c)).toIndexedSeq: _*)
      else source
      val mappings = cfg.mapping.map(Mapping.parseMappingString).getOrElse(
        Mapping.autoMap(targetSchema.fieldNames.toIndexedSeq, trimmed.columns.toIndexedSeq))
      // ALL resolved mappings project (a `col=` mapping with no data
      // column becomes an explicit null — dropping it would silently
      // change update semantics)
      val resolved = mappings.flatMap(m =>
        targetSchema.fields.find(_.name.equalsIgnoreCase(m.dbColumn)).map(f => (m, f)))
      require(resolved.nonEmpty, "mapping resolved no columns")
      val compiled = resolved.map { case (m, f) =>
        // prefix mapped outputs: raw data columns may share the name
        Mapping.compile(m, f, cfg.importTz, cfg.dbTz,
          cfg.dateFormat, cfg.dateTimeFormat).as(s"__graft_m_${f.name}")
      }
      val combined = trimmed.select((trimmed.columns.map(c => col(s"`$c`")) ++ compiled)
        .toIndexedSeq: _*)
      // a non-empty source value that mapped to null failed its parse
      // (reference: per-value failure marks the row invalid, §2.3)
      val rules = resolved.flatMap { case (m, f) => m.dataColumn.map(dc =>
        s"invalid value for ${f.name}" ->
          (col(s"`$dc`").isNotNull && trim(col(s"`$dc`")) =!= "" &&
            col(s"__graft_m_${f.name}").isNull))
      }
      val v = Validation.validate(combined, rules)
      cfg.errorExportPath.foreach { p =>
        val errors = v.errors.select((trimmed.columns.map(c => col(s"`$c`")) :+
          col("error_reason")).toIndexedSeq: _*)
        if (p.endsWith(".json")) Validation.exportErrorsJson(errors, p)
        else if (p.endsWith(".xml")) Validation.exportErrorsXml(errors, p)
        else Validation.exportErrorsCsv(errors, p)
      }
      (v.valid.select(resolved.map { case (_, f) =>
        col(s"__graft_m_${f.name}").as(f.name) }.toIndexedSeq: _*),
        v.errors.count())
    }
    val valid = found - invalid

    // reference commitOnFullSuccessOnly (DbImportWorker.java:1006-1008):
    // ANY data error rolls the whole import back. Surface it here, BEFORE
    // the target is touched — the Spark-side analog of that rollback is
    // simply never starting the write. Errors were already exported above,
    // so the operator still gets the diagnostic file.
    if (cfg.completeCommit && invalid > 0)
      throw new IllegalStateException(
        s"completeCommit: $invalid invalid row(s) of $found — " +
          "import aborted, target unchanged")

    val createdIndex =
      if (cfg.keyColumns.nonEmpty && cfg.createIndexIfNeeded)
        JdbcSink.withConnection(url)(c =>
          JdbcSink.createIndexIfNeeded(c, table, cfg.keyColumns))
      else None

    val fastPath = (cfg.mode == ImportMode.Insert || cfg.mode == ImportMode.ClearInsert) &&
      cfg.keyColumns.isEmpty

    val (inserted, updated, deleted, duplicates) =
      if (fastPath) {
        // -c clears inside the promote transaction (rewriteAtomic, like
        // the reference's clear after autoCommit=false); without -c the
        // clear commits on its own before the append
        val clear = cfg.mode == ImportMode.ClearInsert
        val cleared = if (clear && !cfg.completeCommit)
          JdbcSink.withConnection(url)(c => JdbcSink.clearTable(c, table))
        else 0L
        // additional insert values evaluate in Spark here: a DB-only
        // expression (a sequence) fails. The SQL merge hands them to the
        // destination DB.
        val withExtra = cfg.additionalInsertValues.foldLeft(mapped) {
          case (df, (c, sql)) => df.withColumn(c, expr(sql))
        }
        val stats =
          if (!cfg.completeCommit) JdbcSink.appendBatch(withExtra, url, table, cfg.batchSize,
            singleRowFallback = !cfg.preventSingleFallback)
          else if (clear) JdbcSink.rewriteAtomic(withExtra, url, table, cfg.batchSize)
          else JdbcSink.appendAtomic(withExtra, url, table, cfg.batchSize)
        (stats.inserted, 0L, cleared + stats.deleted, 0L)
      } else if (cfg.duplicateMode.updateFirst || cfg.duplicateMode.makeUnique) {
        // SPARK MERGE: ordinal → dedup → mode matrix → atomic rewrite.
        // staged is read by the dup accounting, the merge and the update
        // count: cache it so the source pipeline runs once and every
        // reader sees the same ordinals.
        val staged = mapped.withColumn("__graft_ord", monotonically_increasing_id()).cache()
        val beforeCount = targetLc.count()
        val (keys, ord) = (cfg.keyColumns.map(Key(_)), col("__graft_ord"))
        // duplicates = the rows the staging dedup removes (both paths)
        val deduped = Merge.stage(staged, keys, cfg.duplicateMode, cfg.updateWithNull, ord)
        val dupsInSource = staged.count() - deduped.count()
        // target order for UPDATE_FIRST/MAKE_UNIQUE must break ties WITHIN
        // duplicate key groups — keys alone are constant there, so append
        // the value columns for a deterministic total order
        val targetOrder = (cfg.keyColumns ++
          targetLc.columns.filterNot(cfg.keyColumns.contains)).map(col)
        val merged = Merge.importMerge(targetLc, staged, keys,
            cfg.mode, cfg.duplicateMode, cfg.updateWithNull,
            sourceOrder = ord, targetOrder = targetOrder,
            insertValues = cfg.additionalInsertValues,
            updateValues = cfg.additionalUpdateValues)
          .cache()
        val afterCount = merged.count()
        val deleted = if (cfg.mode == ImportMode.ClearInsert) beforeCount else 0L
        val insertedN = cfg.mode match {
          case ImportMode.ClearInsert => afterCount
          case _ => afterCount - beforeCount
        }
        // rows actually updated: one per matched key — UPDATE_FIRST
        // updates the first row of a key group, MAKE_UNIQUE dedups the
        // target first
        val updatedN = cfg.mode match {
          case ImportMode.Update | ImportMode.Upsert =>
            val matched = targetLc.join(staged, cfg.keyColumns, "left_semi")
            matched.select(cfg.keyColumns.map(col): _*).distinct().count()
          case _ => 0L
        }
        // atomic rewrite: stage the merged table while the target stays
        // intact, then swap contents in ONE transaction — a failure can
        // never leave the target empty
        JdbcSink.rewriteAtomic(merged, url, table, cfg.batchSize)
        merged.unpersist()
        staged.unpersist()
        (insertedN, updatedN, deleted, dupsInSource)
      } else {
        // SQL MERGE: Spark dedups the staged side, the destination DB runs
        // the set-based merge against its indexed target in place.
        val st = graft.sink.JdbcMerge.mergeViaSql(mapped, url, table,
          cfg.keyColumns, cfg.mode, cfg.duplicateMode, cfg.updateWithNull,
          cfg.batchSize, cfg.additionalInsertValues, cfg.additionalUpdateValues)
        (st.inserted, st.updated, st.deleted, valid - st.staged)
      }

    val finalCount = JdbcSink.withConnection(url)(c => JdbcSink.countRows(c, table))
    val durationMs = (System.nanoTime() - startedAt) / 1000000L
    val itemsPerSec =
      if (durationMs > 0) found.toDouble * 1000.0 / durationMs else 0.0
    ImportResult(found, valid, invalid, duplicates, inserted, updated,
      deleted, finalCount, createdIndex,
      dataAmount = cfg.dataAmount, durationMs = durationMs,
      itemsPerSecond = itemsPerSec)
  }
}
