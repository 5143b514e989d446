package graft.sink

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** JDBC sink with the reference's write semantics (SURVEY §2.2):
  * prepared batch INSERT with configurable block size (default 1000,
  * reference DbImportDefinition.java:198), per-block commit, and the
  * batch-failure fallback that replays a failed block row-by-row to
  * isolate bad rows (DbImportWorker.java:1048-1056,1655-1696). DDL
  * helpers cover table auto-create with PRIMARY KEY + VARCHAR sizing
  * (DbImportWorker.java:709-877), index auto-create on merge keys
  * (:456-463) and temp-table bookkeeping (:438-451).
  *
  * Scale model: each partition writes over its own connection (the
  * standard Spark JDBC pattern); `completeCommit` stages everything into
  * a temp table first and promotes it in ONE transaction on a single
  * connection — the only way to get all-or-nothing semantics from a
  * parallel write.
  */
object JdbcSink {

  /** `deleted`: the rows `rewriteAtomic`'s DELETE removed, else 0. */
  case class WriteStats(inserted: Long, failedRows: Long, fallbackBlocks: Long,
                        deleted: Long = 0L)

  def withConnection[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def tableExists(c: Connection, table: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, table.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  /** Spark → ANSI DDL type (reference type map, SURVEY §1.2). */
  def sqlType(dt: DataType, varcharSize: Int = 1024): String = dt match {
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case BinaryType => "BLOB"
    case _: DecimalType => "DECIMAL(38,10)"
    case _ => s"VARCHAR($varcharSize)"
  }

  /** CREATE TABLE from a Spark schema with PRIMARY KEY on the key
    * columns and per-column VARCHAR sizing.
    */
  def createTable(c: Connection, table: String, schema: StructType,
                  keys: Seq[String] = Nil,
                  varcharSizes: Map[String, Int] = Map.empty): Unit = {
    val cols = schema.fields.map { f =>
      val t = sqlType(f.dataType, varcharSizes.getOrElse(f.name, 1024).max(1))
      val nn = if (keys.contains(f.name)) " NOT NULL" else ""
      s""""${f.name.toUpperCase}" $t$nn"""
    }
    val pk = if (keys.nonEmpty)
      s""", PRIMARY KEY (${keys.map(k => s""""${k.toUpperCase}"""").mkString(", ")})"""
    else ""
    val st = c.createStatement()
    try st.executeUpdate(s"""CREATE TABLE "${table.toUpperCase}" (${cols.mkString(", ")}$pk)""")
    finally st.close()
  }

  def clearTable(c: Connection, table: String): Long = {
    val st = c.createStatement()
    try st.executeUpdate(s"""DELETE FROM "${table.toUpperCase}"""").toLong finally st.close()
  }

  def countRows(c: Connection, table: String): Long = {
    val st = c.createStatement()
    val rs = st.executeQuery(s"""SELECT COUNT(*) FROM "${table.toUpperCase}"""")
    try { rs.next(); rs.getLong(1) } finally { rs.close(); st.close() }
  }

  /** Index auto-create on merge keys if absent (`-nonewindex` disables in
    * the reference); returns the created index name. The keys count as
    * indexed only when one index leads with exactly them, in any order:
    * an index on `(X, K)` cannot serve a lookup on `K`.
    */
  def createIndexIfNeeded(c: Connection, table: String, keys: Seq[String]): Option[String] = {
    if (keys.isEmpty) return None
    val rs = c.getMetaData.getIndexInfo(null, null, table.toUpperCase, false, false)
    val indexCols = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
    try while (rs.next()) Option(rs.getString("COLUMN_NAME")).foreach { col =>
      indexCols += ((rs.getString("INDEX_NAME"), rs.getInt("ORDINAL_POSITION"), col))
    } finally rs.close()
    val keySet = keys.map(_.toUpperCase).toSet
    val covered = indexCols.groupBy(_._1).values.exists { ix =>
      ix.sortBy(_._2).take(keys.size).map(_._3).toSet == keySet
    }
    if (covered) None
    else try Some(createIndex(c, table, keys)) catch { case _: SQLException => None }
  }

  /** The one place index DDL is built: a plain (non-unique) index on
    * `keys`, named after the table and keys; returns the index name.
    */
  private def createIndex(c: Connection, table: String, keys: Seq[String]): String = {
    val name = s"IDX_${table.toUpperCase}_${keys.map(_.toUpperCase).mkString("_")}".take(120)
    val st = c.createStatement()
    try st.executeUpdate(s"""CREATE INDEX "$name" ON "${table.toUpperCase}" """ +
      s"""(${keys.map(k => s""""${k.toUpperCase}"""").mkString(", ")})""")
    finally st.close()
    name
  }

  /** Temp staging-table name with collision retry
    * (`tmp_yyyyMMddHHmmss`, DbImportWorker.java:438-451).
    */
  def tempTableName(c: Connection): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
    val base = "tmp_" + java.time.LocalDateTime.now().format(fmt)
    var name = base
    var i = 0
    while (tableExists(c, name)) {
      if (i >= 10) throw new IllegalStateException("Cannot create temp table")
      name = base + s"_$i"
      i += 1
    }
    name
  }

  /** Declared VARCHAR widths of an existing table (lowercased column
    * names) — staging tables mirror the target's sizing instead of the
    * 1024 default, which would reject values the target accepts.
    */
  def varcharSizes(c: Connection, table: String): Map[String, Int] = {
    val rs = c.getMetaData.getColumns(null, null, table.toUpperCase, null)
    val m = scala.collection.mutable.Map.empty[String, Int]
    try while (rs.next()) {
      if (rs.getInt("DATA_TYPE") == java.sql.Types.VARCHAR)
        m += rs.getString("COLUMN_NAME").toLowerCase -> rs.getInt("COLUMN_SIZE")
    } finally rs.close()
    m.toMap
  }

  private def jdbcType(dt: DataType): Int = dt match {
    case IntegerType => java.sql.Types.INTEGER
    case LongType => java.sql.Types.BIGINT
    case DoubleType | FloatType => java.sql.Types.DOUBLE
    case BooleanType => java.sql.Types.BOOLEAN
    case DateType => java.sql.Types.DATE
    case TimestampType => java.sql.Types.TIMESTAMP
    case BinaryType => java.sql.Types.BLOB
    case _: DecimalType => java.sql.Types.DECIMAL
    case _ => java.sql.Types.VARCHAR
  }

  private def setParam(ps: java.sql.PreparedStatement, i: Int, dt: DataType, v: Any): Unit =
    if (v == null) ps.setNull(i, jdbcType(dt))
    else dt match {
      case IntegerType => ps.setInt(i, v.asInstanceOf[Int])
      case LongType => ps.setLong(i, v.asInstanceOf[Long])
      case DoubleType => ps.setDouble(i, v.asInstanceOf[Double])
      case BooleanType => ps.setBoolean(i, v.asInstanceOf[Boolean])
      case DateType => ps.setDate(i, v.asInstanceOf[java.sql.Date])
      case TimestampType => ps.setTimestamp(i, v.asInstanceOf[java.sql.Timestamp])
      case BinaryType => ps.setBytes(i, v.asInstanceOf[Array[Byte]])
      case _ => ps.setString(i, String.valueOf(v))
    }

  /** Batch append with per-block commit and row-level fallback on batch
    * failure. Runs inside `foreachPartition`, one connection per
    * partition.
    */
  def appendBatch(df: DataFrame, url: String, table: String,
                  batchSize: Int = 1000, singleRowFallback: Boolean = true,
                  commitPerBlock: Boolean = true): WriteStats = {
    val schema = df.schema
    val colList = schema.fieldNames.map(n => s""""${n.toUpperCase}"""").mkString(", ")
    val placeholders = schema.fieldNames.map(_ => "?").mkString(", ")
    val sql = s"""INSERT INTO "${table.toUpperCase}" ($colList) VALUES ($placeholders)"""
    val sc = df.sparkSession.sparkContext
    val okAcc: LongAccumulator = sc.longAccumulator("graft.jdbc.inserted")
    val badAcc: LongAccumulator = sc.longAccumulator("graft.jdbc.failedRows")
    val fbAcc: LongAccumulator = sc.longAccumulator("graft.jdbc.fallbackBlocks")
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val c = DriverManager.getConnection(url)
        try {
          c.setAutoCommit(false)
          val ps = c.prepareStatement(sql)
          val block = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          def flush(): Unit = if (block.nonEmpty) {
            block.foreach { r =>
              schema.fields.zipWithIndex.foreach { case (f, i) =>
                setParam(ps, i + 1, f.dataType, r.get(i))
              }
              ps.addBatch()
            }
            try {
              ps.executeBatch()
              if (commitPerBlock) c.commit()
              okAcc.add(block.size.toLong)
            } catch {
              // staging mode (one txn per partition): roll the whole
              // partition back and FAIL the task — a retry then starts
              // from nothing instead of re-inserting committed blocks
              case e: SQLException if !commitPerBlock =>
                c.rollback(); throw e
              case _: SQLException if singleRowFallback =>
                c.rollback()
                fbAcc.add(1L)
                // replay row-by-row, isolating bad rows
                // (reference DbImportWorker.java:1655-1696)
                block.foreach { r =>
                  try {
                    schema.fields.zipWithIndex.foreach { case (f, i) =>
                      setParam(ps, i + 1, f.dataType, r.get(i))
                    }
                    ps.executeUpdate()
                    c.commit()
                    okAcc.add(1L)
                  } catch {
                    case _: SQLException => c.rollback(); badAcc.add(1L)
                  }
                }
            }
            block.clear()
          }
          rows.foreach { r => block += r; if (block.size >= batchSize) flush() }
          flush()
          if (!commitPerBlock) c.commit()
          ps.close()
        } finally c.close()
      }
    }
    WriteStats(okAcc.value, badAcc.value, fbAcc.value)
  }

  /** All-or-nothing append (`-c` completeCommit,
    * DbImportWorker.java:1092-1098): stage into a temp table in
    * parallel, then promote with one INSERT…SELECT transaction; any
    * failure rolls back everything.
    */
  def appendAtomic(df: DataFrame, url: String, table: String,
                   batchSize: Int = 1000): WriteStats =
    stageAndPromote(df, url, table, batchSize, clearFirst = false)

  /** Atomic full-table REWRITE: stage `df` while the target stays
    * intact and readable, then DELETE + INSERT…SELECT inside ONE
    * transaction — at no point can a failure leave the target empty
    * (the failure mode of a separate clear followed by an append). The
    * stats carry the DELETE's update count.
    */
  def rewriteAtomic(df: DataFrame, url: String, table: String,
                    batchSize: Int = 1000): WriteStats =
    stageAndPromote(df, url, table, batchSize, clearFirst = true)

  private def stageAndPromote(df: DataFrame, url: String, table: String,
                              batchSize: Int, clearFirst: Boolean): WriteStats =
    withStagingTable(df, url, table, batchSize) { (tmp, stats) =>
      val cols = df.schema.fieldNames.map(n => s""""${n.toUpperCase}"""").mkString(", ")
      withConnection(url) { c =>
        c.setAutoCommit(false)
        val st = c.createStatement()
        try {
          val deleted =
            if (clearFirst) st.executeUpdate(s"""DELETE FROM "${table.toUpperCase}"""").toLong
            else 0L
          st.executeUpdate(
            s"""INSERT INTO "${table.toUpperCase}" ($cols) SELECT $cols FROM "${tmp.toUpperCase}"""")
          c.commit()
          stats.copy(deleted = deleted)
        } catch { case e: SQLException => c.rollback(); throw e } finally st.close()
      }
    }

  /** The staging table's whole life (`tmp_<ts>`,
    * DbImportWorker.java:438-451): create it for `df` with `table`'s
    * VARCHAR widths (the 1024 default would reject values the target
    * itself accepts), fill it in one transaction per partition (a task
    * retry starts from a clean rollback instead of duplicating rows),
    * run `use` on its name, and drop it whatever happens.
    *
    * Non-empty `keys` get a non-unique index once the table is filled
    * (DbImportWorker.java:456-471), so keyed lookups into staging stop
    * scanning it; building it after the fill lets the DB gather the
    * index statistics from the staged rows. Not UNIQUE: staging may
    * repeat keys and hold NULL keys. A failed CREATE INDEX fails the
    * call.
    */
  private[sink] def withStagingTable[A](df: DataFrame, url: String, table: String,
                                        batchSize: Int, keys: Seq[String] = Nil)
                                       (use: (String, WriteStats) => A): A = {
    val tmp = withConnection(url) { c =>
      val t = tempTableName(c)
      createTable(c, t, df.schema, varcharSizes = varcharSizes(c, table))
      t
    }
    try {
      val stats = appendBatch(df, url, tmp, batchSize,
        singleRowFallback = false, commitPerBlock = false)
      if (stats.failedRows > 0)
        throw new SQLException(s"${stats.failedRows} rows failed during staging")
      if (keys.nonEmpty) withConnection(url)(c => createIndex(c, tmp, keys))
      use(tmp, stats)
    } finally withConnection(url) { c =>
      val st = c.createStatement()
      try st.executeUpdate(s"""DROP TABLE "${tmp.toUpperCase}"""")
      catch { case _: SQLException => } finally st.close()
    }
  }

  /** Single-file → BLOB column update (`importblob` mode,
    * BlobImportDefinition.java:10-85).
    */
  def updateBlob(url: String, updateSql: String, bytes: Array[Byte]): Int =
    withConnection(url) { c =>
      val ps = c.prepareStatement(updateSql)
      try { ps.setBytes(1, bytes); ps.executeUpdate() } finally ps.close()
    }
}
