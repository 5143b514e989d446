package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture log application: reconstruct a table's final
  * state from an ordered I/U/D change log — the replication-consumer
  * face of the import engine (the batch form of what a streaming CDC
  * sink applies per micro-batch).
  *
  * One aggregation keyed by the row key: `max_by` keeps each
  * key's LATEST log entry (the ordinal must be unique per key — a log
  * sequence number), then deletes drop out. No window — the same
  * mergeable-aggregate shape as [[Dedup.joinDuplicates]], so map-side
  * partials apply and a 100 TB log folds in one shuffle. The value is a
  * struct, so Spark plans it as a sort aggregate (a sort on the key on
  * each side of the exchange), not a hash aggregate.
  */
object CdcApply {

  /** Final table state from `log`. `opCol` values: "I", "U", "D". */
  def applyLog(log: DataFrame, keyCol: String, opCol: String, ordCol: String,
               payloadCols: Seq[String]): DataFrame = {
    val payload = struct((col(opCol).as("op") +: payloadCols.map(col)): _*)
    log.groupBy(col(keyCol))
      .agg(max_by(payload, col(ordCol)).as("last"))
      // null-safe: a malformed NULL op must not act as a delete
      .filter(!(col("last.op") <=> "D"))
      .select(col(keyCol) +: payloadCols.map(c => col(s"last.$c").as(c)): _*)
  }
}
