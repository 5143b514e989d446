package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The merge pipeline — Spark-native re-expression of the reference's
  * destination-DB temp-table SQL (dispatch pinned by reference
  * DbImportWorker.java:411-581; duplicate-mode enum
  * DbImportDefinition.java:85-104; null-overwrite contract README.md:87).
  *
  * The reference stages rows into `tmp_<ts>`, dedups it, then runs
  * anti-join INSERTs / join UPDATEs inside the destination DB. Here the
  * "temp table" is just a DataFrame and each phase is a declarative join
  * that Catalyst plans (AQE broadcasts the small side automatically —
  * typically the staged import vs a large target). Shuffle profile:
  * one hash shuffle on the key columns per phase, and phases reuse the
  * same key partitioning.
  */
object Merge {

  sealed trait ImportMode
  object ImportMode {
    case object ClearInsert extends ImportMode
    case object Insert extends ImportMode
    case object Update extends ImportMode
    case object Upsert extends ImportMode
  }

  /** Reference DuplicateMode enum, DbImportDefinition.java:85-104
    * (default UPDATE_ALL_JOIN, :156).
    */
  sealed abstract class DuplicateMode(val drop: Boolean, val join: Boolean,
                                      val updateFirst: Boolean, val makeUnique: Boolean,
                                      val sourceOnly: Boolean)
  object DuplicateMode {
    case object NoCheck extends DuplicateMode(false, false, false, false, true)
    case object CheckSourceOnlyDrop extends DuplicateMode(true, false, false, false, true)
    case object CheckSourceOnlyJoin extends DuplicateMode(false, true, false, false, true)
    case object UpdateFirstDrop extends DuplicateMode(true, false, true, false, false)
    case object UpdateFirstJoin extends DuplicateMode(false, true, true, false, false)
    case object UpdateAllDrop extends DuplicateMode(true, false, false, false, false)
    case object UpdateAllJoin extends DuplicateMode(false, true, false, false, false)
    case object MakeUniqueDrop extends DuplicateMode(true, false, false, true, false)
    case object MakeUniqueJoin extends DuplicateMode(false, true, false, true, false)
  }

  /** Key columns may carry a function wrapper (`-k 'LOWER(email)'`,
    * reference DbImportWorker.java:256-288): comparisons happen on
    * `fn(col)`, stored values keep the original.
    */
  case class Key(column: String, fn: Column => Column = identity)

  private def joinCond(left: DataFrame, right: DataFrame, keys: Seq[Key]): Column =
    keys.map(k => k.fn(left(k.column)) === k.fn(right(k.column))).reduce(_ && _)

  /** The additional values (reference `-insvalues`/`-updvalues`,
    * DbImportWorker.java:939-948: column → SQL expression) routed to the
    * rows where `routed` holds: each expression is evaluated on the
    * target-shaped row and replaces that column's value. Returns `df` in
    * `shape`; with no values it is just that projection.
    */
  private def withValues(df: DataFrame, shape: StructType, routed: Column,
                         values: Map[String, String]): DataFrame =
    df.select(shape.fields.map { f =>
      values.collectFirst { case (c, e) if c.equalsIgnoreCase(f.name) =>
        when(routed, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
      }.getOrElse(col(f.name))
    }.toIndexedSeq: _*)

  /** Appends `rows` to `target` (columns `rows` lacks are null) and
    * applies the extra insert values to the appended rows only.
    */
  private def append(target: DataFrame, rows: DataFrame,
                     insertValues: Map[String, String]): DataFrame = {
    val marked =
      if (insertValues.isEmpty) rows else rows.withColumn("__graft_appended", lit(true))
    withValues(target.unionByName(marked, allowMissingColumns = true), target.schema,
      col("__graft_appended"), insertValues)
  }

  /** `insertNotExistingItems(temp → target)`: left-anti join of staged vs
    * target on the (possibly function-wrapped) keys, append survivors.
    * Staged may miss target columns (filled with null).
    */
  def insertNotExisting(target: DataFrame, staged: DataFrame, keys: Seq[Key],
                        insertValues: Map[String, String] = Map.empty): DataFrame =
    append(target, staged.join(target, joinCond(staged, target, keys), "left_anti"),
      insertValues)

  /** `insertAllItems`: unconditional append. */
  def insertAll(target: DataFrame, staged: DataFrame,
                insertValues: Map[String, String] = Map.empty): DataFrame =
    append(target, staged, insertValues)

  /** `updateAllExistingItems(temp → target)`: every target row whose key
    * matches a staged row takes that staged row's values for the columns
    * staged provides, then the extra update values. Staged must already
    * be unique per key (the join-duplicates phase guarantees it). With
    * `updateWithNull = false`, null staged values do not overwrite
    * (per-column coalesce). Unmatched target rows pass through.
    */
  def updateAll(target: DataFrame, staged: DataFrame, keys: Seq[Key],
                updateWithNull: Boolean = true,
                updateValues: Map[String, String] = Map.empty): DataFrame = {
    val keyNames = keys.map(_.column).toSet
    val updCols = staged.columns.filterNot(keyNames.contains).filter(target.columns.contains)
    val s = staged.select(
      (keys.map(k => staged(k.column).as(k.column)) ++
        updCols.map(c => staged(c).as(s"__graft_s_$c")) :+
        lit(true).as("__graft_matched")).toIndexedSeq: _*)
    val j = target.join(s, joinCond(target, s, keys), "left")
    val matched = j("__graft_matched").isNotNull
    val outCols = target.columns.map { c =>
      if (updCols.contains(c)) {
        val sv = j(s"__graft_s_$c")
        val upd = if (updateWithNull) sv else coalesce(sv, target(c))
        when(matched, upd).otherwise(target(c)).as(c)
      } else target(c).as(c)
    }
    if (updateValues.isEmpty) j.select(outCols.toIndexedSeq: _*)
    else withValues(j.select((outCols :+ matched.as("__graft_upd")).toIndexedSeq: _*),
      target.schema, col("__graft_upd"), updateValues)
  }

  /** `updateFirstExistingItems`: like [[updateAll]], but when the TARGET
    * holds duplicate keys only its first occurrence (by `targetOrder`)
    * is updated; later occurrences stay untouched
    * (reference DbImportWorker.java:518-526).
    */
  def updateFirst(target: DataFrame, staged: DataFrame, keys: Seq[Key],
                  targetOrder: Seq[Column], updateWithNull: Boolean = true,
                  updateValues: Map[String, String] = Map.empty): DataFrame = {
    val w = Window.partitionBy(keys.map(k => k.fn(col(k.column))): _*).orderBy(targetOrder: _*)
    val t = target.withColumn("__graft_trn", row_number().over(w))
    val first = updateAll(t.filter(col("__graft_trn") === 1), staged, keys, updateWithNull,
      updateValues)
    first.unionByName(t.filter(col("__graft_trn") =!= 1))
      .drop("__graft_trn")
      .select(target.columns.map(col).toIndexedSeq: _*)
  }

  // Dedup/detect must compare fn(col) exactly like the joins do, so every
  // grouping runs on derived key columns (dropped after) — a raw-column
  // grouping would keep "A@X" and "a@x" as distinct keys while the update
  // join matches both, duplicating target rows.
  private def cmpNames(keys: Seq[Key]): Seq[String] = keys.indices.map(i => s"__graft_k$i")
  private def withCmpKeys(df: DataFrame, keys: Seq[Key]): DataFrame =
    keys.zip(cmpNames(keys)).foldLeft(df) {
      case (d, (k, n)) => d.withColumn(n, k.fn(col(k.column)))
    }
  private def dedupKeepFirst(df: DataFrame, keys: Seq[Key], order: Seq[Column]): DataFrame =
    Dedup.dropDuplicatesKeepFirst(withCmpKeys(df, keys), cmpNames(keys), order)
      .drop(cmpNames(keys): _*)
  private def dedupJoin(df: DataFrame, keys: Seq[Key], order: Column,
                        updateWithNull: Boolean): DataFrame =
    Dedup.joinDuplicates(withCmpKeys(df, keys), cmpNames(keys), order, updateWithNull)
      .drop(cmpNames(keys): _*)

  /** Stage + in-source dedup (DbImportWorker.java:477-485): NO_CHECK
    * keeps every row, the *_DROP modes the first row per key by `order`,
    * the *_JOIN modes merge each key group ([[Dedup.joinDuplicates]]).
    * `source.count - stage(source).count` is the import's duplicate
    * count.
    */
  def stage(source: DataFrame, keys: Seq[Key], dupMode: DuplicateMode,
            updateWithNull: Boolean, order: Column): DataFrame =
    if (dupMode == DuplicateMode.NoCheck) source
    else if (dupMode.drop) dedupKeepFirst(source, keys, Seq(order))
    else dedupJoin(source, keys, order, updateWithNull)

  /** Full import pipeline: dedup staged source + mode dispatch, mirroring
    * reference DbImportWorker.java:426-581 exactly. Returns the new
    * target table contents.
    *
    * @param sourceOrder arrival ordinal column of `source` (unique,
    *        non-null; see [[Ordinals]]) resolving "first/last occurrence"
    *        within the staged data.
    * @param targetOrder deterministic target-side order for
    *        UPDATE_FIRST / MAKE_UNIQUE modes (the reference uses the
    *        DB's physical row order; a PK or ingest ordinal here).
    *        MUST be unique WITHIN each duplicate key group:
    *        MAKE_UNIQUE_JOIN feeds it to [[Dedup.joinDuplicates]], whose
    *        per-column max_by would otherwise mix columns from different
    *        tied rows into a row that never existed. Key columns alone
    *        are constant within a group and therefore insufficient —
    *        append value columns or an ingest ordinal as tie-breakers.
    * @param insertValues extra values of the rows the merge inserts, the
    *        way the reference routes each row through its INSERT
    * @param updateValues extra values of the target rows it updates
    *        (under UPDATE_FIRST only the first of a duplicate key group)
    */
  def importMerge(target: DataFrame, source: DataFrame, keys: Seq[Key],
                  mode: ImportMode, dupMode: DuplicateMode = DuplicateMode.UpdateAllJoin,
                  updateWithNull: Boolean = true,
                  sourceOrder: Column, targetOrder: Seq[Column],
                  insertValues: Map[String, String] = Map.empty,
                  updateValues: Map[String, String] = Map.empty): DataFrame = {
    import ImportMode._

    // Fast path: INSERT/CLEARINSERT without keys = plain append
    // (DbImportWorker.java:426-429).
    if ((mode == ClearInsert || mode == Insert) && keys.isEmpty) {
      val base = if (mode == ClearInsert) target.limit(0) else target
      return insertAll(base, source, insertValues)
    }

    // MAKE_UNIQUE_*: make the target itself unique first (:432-436).
    val target1 = dupMode match {
      case DuplicateMode.MakeUniqueDrop =>
        dedupKeepFirst(target, keys, targetOrder)
      case DuplicateMode.MakeUniqueJoin =>
        // order WITHIN a key group is all join-duplicates needs: a struct
        // of the order columns is orderable under max_by, so this stays one
        // aggregate with no window and no global sort (a string value
        // column still makes it a sort aggregate, see Dedup)
        dedupJoin(target, keys, struct(targetOrder: _*), updateWithNull)
      case _ => target
    }
    // CLEARINSERT clears before staging (:411-415).
    val target2 = if (mode == ClearInsert) target1.limit(0) else target1

    val staged = stage(source, keys, dupMode, updateWithNull, sourceOrder)
    def update(t: DataFrame): DataFrame =
      if (dupMode.updateFirst && Dedup.detectDuplicates(withCmpKeys(t, keys), cmpNames(keys)) > 0)
        updateFirst(t, staged, keys, targetOrder, updateWithNull, updateValues)
      else updateAll(t, staged, keys, updateWithNull, updateValues)

    mode match {
      case ClearInsert =>
        insertNotExisting(target2, staged, keys, insertValues)
      case Insert =>
        if (dupMode.sourceOnly) insertAll(target2, staged, insertValues)
        else insertNotExisting(target2, staged, keys, insertValues)
      case Update =>
        if (dupMode.sourceOnly) target2
        else update(target2)
      case Upsert =>
        if (dupMode.sourceOnly) insertAll(target2, staged, insertValues)
        else insertNotExisting(update(target2), staged, keys, insertValues)
    }
  }
}
