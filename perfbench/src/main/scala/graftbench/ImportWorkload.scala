package graftbench

import java.io.File
import java.sql.{Connection, DriverManager, ResultSet, Types}

import org.apache.spark.sql.SparkSession

import graft.api.Importer
import graft.cli.Main

/** An import into embedded Derby through the CLI's two calls:
  * `Main.readSource`, then `Importer.importToJdbc`. The target is reset
  * from a seeded copy between operations; the reset and the table hash
  * the oracle compares are untimed.
  */
final class ImportWorkload(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode,
                           out: File) {
  private val url = plan.get("jdbc_url").asText
  private val table = plan.get("table").asText
  private val seedTable = table + "_SEED"
  private val ddl = plan.get("ddl").asText // CREATE TABLE {table} (...)
  private val seedCsv = Option(plan.get("seed_csv")).filterNot(_.isNull).map(_.asText)
  private val args = {
    val a = Main.parseArgs(Harness.strings(plan.get("argv")).toArray)
    a.copy(cfg = a.cfg.copy(mergeInDb = plan.get("merge_in_db").asBoolean,
      dataAmount = new File(a.importPathOrData).length()))
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }
  private def dropIfExists(c: Connection, t: String): Unit =
    scala.util.Try(exec(c, s"DROP TABLE $t"))

  /** Per-run set-up, timed and repeated: seed the pristine copy of the
    * target with plain JDBC batches.
    */
  def setup(): Unit = JdbcSeed.withConnection(url) { c =>
    dropIfExists(c, seedTable)
    exec(c, ddl.replace("{table}", seedTable))
    seedCsv.foreach(f => JdbcSeed.load(c, seedTable, f))
    reset(c)
  }

  private def reset(c: Connection): Unit = {
    dropIfExists(c, table)
    exec(c, ddl.replace("{table}", table))
    if (seedCsv.isDefined) exec(c, s"INSERT INTO $table SELECT * FROM $seedTable")
  }

  /** One timed operation: the CLI's read, then the import. */
  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val src = Spans("read_source")(Main.readSource(spark, args, args.importPathOrData))
    val t1 = System.nanoTime()
    val r = Spans("import_to_jdbc")(
      Importer.importToJdbc(src, args.url, args.table, args.cfg))
    Map("read_s" -> (t1 - t0) / 1e9, "import_s" -> Harness.secs(t1),
      "found" -> r.found, "valid" -> r.valid, "invalid" -> r.invalid,
      "duplicates" -> r.duplicates, "inserted" -> r.inserted,
      "updated" -> r.updated, "final_count" -> r.finalCount)
  }

  /** Untimed after operation `i`: hash the target for the oracle (the
    * first one's rows are also dumped), then reset it.
    */
  def after(i: Int): Map[String, Any] = JdbcSeed.withConnection(url) { c =>
    val lines = JdbcSeed.canonicalRows(c, table)
    if (i == 0) Harness.writeFile(new File(out, "dump.txt"), lines.mkString("\n"))
    val h = JdbcSeed.sha256(lines)
    reset(c)
    Map("rows" -> lines.size, "hash" -> h)
  }
}

/** Plain-JDBC helpers of the benchmark: loading the seed rows and the
  * canonical table rendering the Python oracle renders the same way.
  */
object JdbcSeed {
  def withConnection[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** `;`-separated seed rows with a header, loaded with typed setters
    * in one transaction.
    */
  def load(c: Connection, table: String, csv: String): Unit = {
    val lines = java.nio.file.Files.readAllLines(new File(csv).toPath)
    val header = lines.get(0).split(";", -1)
    val types = {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table WHERE 1=0")
      try (1 to header.length).map(rs.getMetaData.getColumnType) finally rs.close()
    }
    c.setAutoCommit(false)
    val ps = c.prepareStatement(
      s"INSERT INTO $table VALUES (${header.map(_ => "?").mkString(", ")})")
    try {
      var n = 0
      (1 until lines.size).foreach { li =>
        val v = lines.get(li).split(";", -1)
        types.zipWithIndex.foreach { case (t, j) =>
          val s = v(j)
          t match {
            case Types.BIGINT => ps.setLong(j + 1, s.toLong)
            case Types.INTEGER => ps.setInt(j + 1, s.toInt)
            case Types.DOUBLE => ps.setDouble(j + 1, s.toDouble)
            case Types.TIMESTAMP => ps.setTimestamp(j + 1, java.sql.Timestamp.valueOf(s))
            case _ => ps.setString(j + 1, s)
          }
        }
        ps.addBatch()
        n += 1
        if (n % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally { ps.close(); c.setAutoCommit(true) }
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Every row rendered as `\u0001`-joined cells, sorted: integers in
    * decimal, doubles as the hex of their IEEE bits, timestamps to the
    * second, NULL as `\N`.
    */
  def canonicalRows(c: Connection, table: String): Seq[String] = {
    val st = c.createStatement()
    val rs = st.executeQuery(s"SELECT * FROM $table")
    try {
      val md = rs.getMetaData
      val n = md.getColumnCount
      val b = Seq.newBuilder[String]
      while (rs.next()) b += (1 to n).map(j => cell(rs, j, md.getColumnType(j))).mkString("\u0001")
      b.result().sorted
    } finally { rs.close(); st.close() }
  }

  private def cell(rs: ResultSet, j: Int, t: Int): String = {
    val v: String = t match {
      case Types.DOUBLE | Types.FLOAT =>
        val d = rs.getDouble(j)
        f"${java.lang.Double.doubleToLongBits(d)}%016x"
      case Types.TIMESTAMP =>
        val ts = rs.getTimestamp(j)
        if (ts == null) null else ts.toLocalDateTime.format(TsFormat)
      case _ => rs.getString(j)
    }
    if (rs.wasNull() || v == null) "\\N" else v
  }

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
