package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}

/** DB-side merge: the reference's own execution strategy
  * (DbImportWorker.java:438-581 — stage into `tmp_<ts>`, then one SQL
  * statement per phase inside the destination DB). Every keyed import
  * runs here except UPDATE_FIRST_* and MAKE_UNIQUE_*, which need the
  * Spark merge ([[graft.api.Importer]]). Division of labor:
  *
  *  - Spark dedups/transforms the STAGED side (cheap, cluster-side,
  *    where the new data lives);
  *  - the DB runs the set-based anti-join INSERT and update-join UPDATE
  *    with both sides indexed on the keys — the target by its own
  *    index, the staging table by the one [[JdbcSink.withStagingTable]]
  *    builds after the fill — no target extraction, no rewrite.
  *
  * Generated SQL is ANSI (correlated subqueries), valid on Derby/
  * HSQL/Postgres/MySQL-family alike.
  */
object JdbcMerge {

  case class MergeStats(deleted: Long, duplicates: Long, inserted: Long, updated: Long)

  private def q(n: String) = s""""${n.toUpperCase}""""

  /** Stage + merge. `source` is the mapped, transformed import data (raw
    * duplicates allowed — deduped Spark-side by [[Merge.stage]]). The
    * UPDATE_FIRST_* and MAKE_UNIQUE_* modes are rejected: the SQL below
    * updates every matching target row and never dedups the target.
    *
    * @param additionalInsertValues extra target columns ← raw SQL
    *        evaluated by the DESTINATION DB inside the generated INSERT
    *        (the reference's `id=seq.NEXTVAL` case,
    *        DbImportWorker.java:939-948), so DB-only expressions such as
    *        sequences work.
    * @param additionalUpdateValues same for the UPDATE statement.
    */
  def mergeViaSql(source: DataFrame, url: String, table: String, keys: Seq[String],
                  mode: ImportMode, dupMode: DuplicateMode = DuplicateMode.UpdateAllJoin,
                  updateWithNull: Boolean = true, batchSize: Int = 1000,
                  additionalInsertValues: Map[String, String] = Map.empty,
                  additionalUpdateValues: Map[String, String] = Map.empty): MergeStats = {
    require(keys.nonEmpty, "DB-side merge needs key columns")
    require(!dupMode.updateFirst && !dupMode.makeUnique,
      s"DB-side merge does not support duplicate mode $dupMode")

    val withOrd = Ordinals.withArrivalOrdinal(source, "__graft_ord")
    val rawCount = withOrd.count()
    val staged = Merge.stage(withOrd, keys.map(Key(_)), dupMode, updateWithNull,
      col("__graft_ord")).drop("__graft_ord")
    val stagedCount = staged.count()

    val cols = staged.columns.toSeq
    val valCols = cols.filterNot(keys.contains)
    val keyEq = (t: String, s: String) =>
      keys.map(k => s"$t.${q(k)} = $s.${q(k)}").mkString(" AND ")

    JdbcSink.withStagingTable(staged, url, table, batchSize, keys) { (tmp, _) =>
      val T = q(table)
      val S = q(tmp)

      val (extraInsCols, extraInsExprs) =
        (additionalInsertValues.keys.map(q).toSeq, additionalInsertValues.values.toSeq)
      // sourceOnly modes append unconditionally (Merge.insertAll parity)
      val plainInsertSql =
        s"""INSERT INTO $T (${(cols.map(q) ++ extraInsCols).mkString(", ")})
           | SELECT ${(cols.map(c => s"src.${q(c)}") ++ extraInsExprs).mkString(", ")} FROM $S src""".stripMargin
      val insertSql =
        s"""$plainInsertSql
           | WHERE NOT EXISTS (SELECT 1 FROM $T dst WHERE ${keyEq("dst", "src")})""".stripMargin
      // an import that maps only the keys still sets the extra update values
      val sets = valCols.map { vc =>
        val sub = s"(SELECT src.${q(vc)} FROM $S src WHERE ${keyEq("src", "dst")})"
        val v = if (updateWithNull) sub else s"COALESCE($sub, dst.${q(vc)})"
        s"${q(vc)} = $v"
      } ++ additionalUpdateValues.map { case (c, e) => s"${q(c)} = $e" }
      val updateSql =
        s"""UPDATE $T dst SET ${sets.mkString(", ")}
           | WHERE EXISTS (SELECT 1 FROM $S src WHERE ${keyEq("src", "dst")})""".stripMargin

      JdbcSink.withConnection(url) { c =>
        c.setAutoCommit(false)
        val st = c.createStatement()
        try {
          var deleted = 0L
          var inserted = 0L
          var updated = 0L
          mode match {
            case ImportMode.ClearInsert =>
              deleted = JdbcSink.clearTable(c, table)
              inserted = st.executeUpdate(insertSql).toLong
            case ImportMode.Insert =>
              // sourceOnly appends everything (Spark path: insertAll)
              inserted = st.executeUpdate(
                if (dupMode.sourceOnly) plainInsertSql else insertSql).toLong
            case ImportMode.Update =>
              if (!dupMode.sourceOnly && sets.nonEmpty)
                updated = st.executeUpdate(updateSql).toLong
            case ImportMode.Upsert =>
              if (dupMode.sourceOnly)
                inserted = st.executeUpdate(plainInsertSql).toLong
              else {
                if (sets.nonEmpty) updated = st.executeUpdate(updateSql).toLong
                inserted = st.executeUpdate(insertSql).toLong
              }
          }
          c.commit()
          MergeStats(deleted, rawCount - stagedCount, inserted, updated)
        } catch {
          case e: java.sql.SQLException => c.rollback(); throw e
        } finally st.close()
      }
    }
  }
}
