package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}
import graft.sink.JdbcSink

/** The import orchestrator — reference `DbImportWorker.work()`
  * (DbImportWorker.java:331-686, SURVEY §3.1) as a driver-side plan
  * builder:
  *
  *   source (raw strings) → mapping/transform select → validate (error
  *   side-channel) → FAST PATH (keyless INSERT/CLEARINSERT → batch
  *   append) or MERGE PATH (arrival ordinal → dedup → mode matrix as
  *   DataFrame joins → atomic rewrite of the JDBC target).
  *
  * The relational merge runs in Spark (cluster-side) instead of the
  * destination DB — the process boundary moves from "JVM→DB" to
  * "driver→executors" and only final writes cross to the sink.
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
                          /** Run the merge as SQL inside the destination
                            * DB (reference strategy) instead of reading
                            * the target into Spark — for very large
                            * remote targets. See [[graft.sink.JdbcMerge]].
                            */
                          mergeInDb: Boolean = false,
                          /** Divert rows whose mapped values failed to
                            * parse (non-null source → null target) to the
                            * error channel instead of importing nulls;
                            * optionally re-export them as CSV
                            * (reference erroneous-data file, §2.3).
                            */
                          errorChannel: Boolean = false,
                          errorExportPath: Option[String] = None,
                          /** Additional insert/update values: extra
                            * target columns set from SQL expressions
                            * (reference `-insvalues`/`-updvalues`,
                            * DbImportWorker.java:939-948). Spark-evaluable
                            * expressions apply cluster-side; DB-only
                            * expressions (sequences) belong in
                            * [[graft.sink.JdbcMerge]]'s generated SQL.
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

  /** Spark-evaluable additional insert/update values on the merge path:
    * insert expressions apply to rows the merge INSERTED (key absent
    * from the original target; all staged rows under CLEARINSERT and
    * under sourceOnly Insert/Upsert, whose insertAll appends every
    * staged row — those carry an explicit `__graft_stgflag` provenance
    * column because a key join cannot tell an appended duplicate-key
    * row from the target row it duplicates), update expressions to
    * matched target rows — mirroring which SQL statement the reference
    * would have routed each row through (DbImportWorker.java:939-948).
    * UPDATE_FIRST modes must use the mergeInDb path for update values:
    * only the generated SQL knows which single duplicate row was
    * updated.
    */
  private def withAdditionalValues(merged: DataFrame, target: DataFrame,
                                   staged: DataFrame, cfg: ImportConfig): DataFrame = {
    if (cfg.additionalInsertValues.isEmpty && cfg.additionalUpdateValues.isEmpty)
      return merged
    require(cfg.additionalUpdateValues.isEmpty || !cfg.duplicateMode.updateFirst,
      "additionalUpdateValues with an UPDATE_FIRST duplicate mode needs " +
        "mergeInDb = true (row-precise update routing)")
    val keys = cfg.keyColumns
    val hasStgFlag = merged.columns.contains(StagedFlagCol)
    val pre = target.select(keys.map(col): _*).distinct()
      .withColumn("__graft_pre", lit(true))
    val stg = staged.select(keys.map(col): _*).distinct()
      .withColumn("__graft_stg", lit(true))
    val j = merged.join(pre, keys, "left").join(stg, keys, "left")
    val isNew =
      if (hasStgFlag) col(StagedFlagCol)
      else if (cfg.mode == ImportMode.ClearInsert) col("__graft_stg").isNotNull
      else col("__graft_stg").isNotNull && col("__graft_pre").isNull
    val doesUpdate = (cfg.mode == ImportMode.Update || cfg.mode == ImportMode.Upsert) &&
      !cfg.duplicateMode.sourceOnly
    val isUpd = col("__graft_stg").isNotNull && col("__graft_pre").isNotNull &&
      lit(doesUpdate)
    val withIns = cfg.additionalInsertValues.foldLeft(j) { case (df, (c, e)) =>
      df.withColumn(c, when(isNew, expr(e)).otherwise(col(s"`$c`"))) }
    val withUpd = cfg.additionalUpdateValues.foldLeft(withIns) { case (df, (c, e)) =>
      df.withColumn(c, when(isUpd, expr(e)).otherwise(col(s"`$c`"))) }
    withUpd.drop("__graft_pre", "__graft_stg", StagedFlagCol)
      .select(merged.columns.filterNot(_ == StagedFlagCol).map(col).toIndexedSeq: _*)
  }

  /** Row-provenance marker threaded through the merge for sourceOnly
    * Insert/Upsert (true = the row was appended from the staged side).
    */
  private val StagedFlagCol = "__graft_stgflag"

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
        Validation.exportErrorsCsv(
          v.errors.select((trimmed.columns.map(c => col(s"`$c`")) :+
            col("error_reason")).toIndexedSeq: _*), p)
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
        val deleted = if (cfg.mode == ImportMode.ClearInsert)
          JdbcSink.withConnection(url)(c => JdbcSink.clearTable(c, table))
        else 0L
        // Spark-evaluable additional insert values (DB-only expressions
        // like sequences need the mergeInDb path)
        val withExtra = cfg.additionalInsertValues.foldLeft(mapped) {
          case (df, (c, sql)) => df.withColumn(c, expr(sql))
        }
        val stats =
          if (cfg.completeCommit) JdbcSink.appendAtomic(withExtra, url, table, cfg.batchSize)
          else JdbcSink.appendBatch(withExtra, url, table, cfg.batchSize,
            singleRowFallback = !cfg.preventSingleFallback)
        (stats.inserted, 0L, deleted, 0L)
      } else if (cfg.mergeInDb) {
        // DB-side merge: Spark dedups the staged side, the destination DB
        // runs the set-based merge against its indexed target in place.
        val st = graft.sink.JdbcMerge.mergeViaSql(mapped, url, table,
          cfg.keyColumns, cfg.mode, cfg.duplicateMode, cfg.updateWithNull,
          cfg.batchSize, cfg.additionalInsertValues, cfg.additionalUpdateValues)
        (st.inserted, st.updated, 0L, st.duplicates)
      } else {
        // MERGE PATH: ordinal → dedup → mode matrix → atomic rewrite.
        // staged is read by the dup accounting, the merge, the update
        // count and the extra-values flags: cache it so the source
        // pipeline (and the ordinal's partition-count pass) runs once —
        // recomputation could even reorder arrival ordinals.
        val staged = Ordinals.withArrivalOrdinal(mapped, "__graft_ord").cache()
        val beforeCount = targetLc.count()
        val dupsInSource = staged.count() -
          Dedup.dropDuplicatesKeepFirst(staged, cfg.keyColumns, Seq(col("__graft_ord"))).count()
        // target order for UPDATE_FIRST/MAKE_UNIQUE must break ties WITHIN
        // duplicate key groups — keys alone are constant there, so append
        // the value columns for a deterministic total order
        val targetOrder = (cfg.keyColumns ++
          targetLc.columns.filterNot(cfg.keyColumns.contains)).map(col)
        // sourceOnly Insert/Upsert append EVERY staged row — even ones
        // whose key already exists — and the reference's plain INSERT
        // applies the extra insert expressions to all of them. A key
        // join can't tell those appended rows from the target rows they
        // duplicate, so carry explicit provenance through the merge.
        val useStgFlag = cfg.duplicateMode.sourceOnly &&
          (cfg.mode == ImportMode.Insert || cfg.mode == ImportMode.Upsert) &&
          cfg.additionalInsertValues.nonEmpty
        val (tIn, sIn) =
          if (useStgFlag)
            (targetLc.withColumn(StagedFlagCol, lit(false)),
              staged.withColumn(StagedFlagCol, lit(true)))
          else (targetLc, staged)
        val keepCols = targetLc.columns.toIndexedSeq ++
          (if (useStgFlag) Seq(StagedFlagCol) else Nil)
        val merged0 = Merge.importMerge(
            tIn, sIn, cfg.keyColumns.map(Key(_)),
            cfg.mode, cfg.duplicateMode, cfg.updateWithNull,
            sourceOrder = col("__graft_ord"),
            targetOrder = targetOrder)
          .drop("__graft_ord")
          .select(keepCols.map(col): _*)
        val merged = withAdditionalValues(merged0, targetLc, staged, cfg).cache()
        val afterCount = merged.count()
        val deleted = if (cfg.mode == ImportMode.ClearInsert) beforeCount else 0L
        val insertedN = cfg.mode match {
          case ImportMode.ClearInsert => afterCount
          case _ => afterCount - beforeCount
        }
        // rows actually updated: none for sourceOnly; one per matched key
        // for UPDATE_FIRST (and for MAKE_UNIQUE, which dedups the target
        // first); every matched row otherwise
        val updatedN = cfg.mode match {
          case ImportMode.Update | ImportMode.Upsert
              if !cfg.duplicateMode.sourceOnly =>
            val matched = targetLc.join(staged, cfg.keyColumns, "left_semi")
            if (cfg.duplicateMode.updateFirst || cfg.duplicateMode.makeUnique)
              matched.select(cfg.keyColumns.map(col): _*).distinct().count()
            else matched.count()
          case _ => 0L
        }
        // atomic rewrite: stage the merged table while the target stays
        // intact, then swap contents in ONE transaction — a failure can
        // never leave the target empty
        JdbcSink.rewriteAtomic(merged, url, table, cfg.batchSize)
        merged.unpersist()
        staged.unpersist()
        (insertedN, updatedN, deleted, dupsInSource)
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
