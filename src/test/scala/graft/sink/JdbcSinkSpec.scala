package graft.sink

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.api.{Importer, Validation}
import graft.operators.{Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode}
import graft.sources.{CsvSource, SyntheticFixtures}

/** JDBC sink + orchestrator against embedded Derby — the no-server-vendor
  * analog of the reference's NoInstallNeededImportTestSuite.
  */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private var dbN = 0
  private def freshDb(): String = {
    dbN += 1
    s"jdbc:derby:memory:graftdb$dbN;create=true"
  }

  private val canonicalSchema = StructType(Seq(
    StructField("column_integer", IntegerType),
    StructField("column_double", DoubleType),
    StructField("column_varchar", StringType),
    StructField("column_clob", StringType),
    StructField("column_timestamp", TimestampType),
    StructField("column_date", DateType)))

  test("batch append + table create + golden canonical CSV import (FIXTURES §2)") {
    val url = freshDb()
    JdbcSink.withConnection(url)(c =>
      JdbcSink.createTable(c, "test_tbl", canonicalSchema))
    val csv = "column integer; column_double; column_varchar; column_clob; column_timestamp; column_date\n" +
      "123; 123.456E0; aBcDeF123; aBcDeF1234; 01.02.2003 11:12:13; 01.02.2003 21:22:23"
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("jdbc"), "canonical.csv"), csv)
    val src = CsvSource.read(spark, f.getPath)
    val mapping = "column_integer='column integer'; column_double=' column_double'; " +
      "column_varchar=' column_varchar'; column_clob=' column_clob'; " +
      "column_timestamp=' column_timestamp'dd.MM.yyyy HH:mm:ss; " +
      "column_date=' column_date'dd.MM.yyyy HH:mm:ss"
    val res = Importer.importToJdbc(src, url, "test_tbl",
      Importer.ImportConfig(mapping = Some(mapping)))
    assert(res.found == 1 && res.inserted == 1 && res.finalCount == 1)
    val row = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "TEST_TBL").load().collect()(0)
    assert(row.getAs[Int]("COLUMN_INTEGER") == 123)
    assert(row.getAs[Double]("COLUMN_DOUBLE") == 123.456)
    assert(row.getAs[String]("COLUMN_VARCHAR") == " aBcDeF123") // no implicit trim
    assert(row.getAs[java.sql.Timestamp]("COLUMN_TIMESTAMP").toString == "2003-02-01 11:12:13.0")
    // DATE column accepts the datetime pattern, keeps the date part
    assert(row.getAs[java.sql.Date]("COLUMN_DATE").toString == "2003-02-01")
  }

  test("UPSERT merge path against a pre-filled table (FIXTURES §3 scenario)") {
    val url = freshDb()
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    JdbcSink.withConnection(url) { c =>
      JdbcSink.createTable(c, "t", schema, keys = Seq("k"))
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO \"T\" VALUES (1, 'pre_1'), (3, 'pre_3'), (999, 'pre_999')")
      st.close()
    }
    val src = Seq(("1", "new_1a"), ("1", "new_1b"), ("2", "new_2"), ("5", "new_5"))
      .toDF("k", "v")
    val res = Importer.importToJdbc(src, url, "t",
      Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k")))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "T").load()
      .orderBy("K").collect().map(r => (r.getInt(0), r.getString(1)))
    // join-duplicates: later row new_1b wins for key 1; 2,5 inserted
    assert(got.toSeq == Seq(1 -> "new_1b", 2 -> "new_2", 3 -> "pre_3",
      5 -> "new_5", 999 -> "pre_999"))
    assert(res.duplicates == 1 && res.finalCount == 5)
    assert(res.createdIndex.isEmpty) // PK already indexes the key
  }

  test("batch failure falls back to row-by-row and isolates bad rows") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"FB\" (\"K\" INTEGER PRIMARY KEY, \"V\" VARCHAR(10))")
      st.close()
    }
    val df = Seq((1, "a"), (2, "b"), (2, "dup-key"), (3, "c")).toDF("k", "v").coalesce(1)
    val stats = JdbcSink.appendBatch(df, url, "fb", batchSize = 1000)
    assert(stats.inserted == 3 && stats.failedRows == 1 && stats.fallbackBlocks == 1)
  }

  test("completeCommit: all-or-nothing atomic append") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"AT\" (\"K\" INTEGER PRIMARY KEY)")
      st.executeUpdate("INSERT INTO \"AT\" VALUES (7)")
      st.close()
    }
    // staging succeeds but promotion violates the PK → everything rolls back
    val bad = Seq(5, 6, 7).toDF("k")
    intercept[java.sql.SQLException] {
      JdbcSink.appendAtomic(bad, url, "at")
    }
    JdbcSink.withConnection(url) { c =>
      assert(JdbcSink.countRows(c, "at") == 1) // untouched
    }
    val ok = Seq(8, 9).toDF("k")
    JdbcSink.appendAtomic(ok, url, "at")
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "at") == 3))
  }

  test("completeCommit: a keyless CLEARINSERT clears inside the all-or-nothing write") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"AT\" (\"K\" INTEGER PRIMARY KEY)")
      st.executeUpdate("INSERT INTO \"AT\" VALUES (7)")
      st.close()
    }
    val cfg = Importer.ImportConfig(mode = ImportMode.ClearInsert, completeCommit = true)
    // staging takes 5, 5; the promote's INSERT violates the PK after its
    // DELETE ran, so the DELETE must roll back with it
    intercept[java.sql.SQLException] {
      Importer.importToJdbc(Seq(5, 5).toDF("k"), url, "at", cfg)
    }
    // AT is a Derby keyword: quote it
    val left = spark.read.format("jdbc").option("url", url).option("dbtable", "\"AT\"").load()
      .collect().map(_.getInt(0)).toSeq
    assert(left == Seq(7))
    // a clean run reports the DELETE's own count
    val res = Importer.importToJdbc(Seq(5, 6).toDF("k"), url, "at", cfg)
    assert(res.deleted == 1 && res.inserted == 2 && res.finalCount == 2)
  }

  test("-create: inferred schema with VARCHAR sizing and PK keys") {
    val url = freshDb()
    val src = Seq(("1", "1.5", "abcdef", "01.02.2003"), ("2", "2.5", "xy", "02.02.2003"))
      .toDF("id", "price", "name", "d")
    val res = Importer.importToJdbc(src, url, "created_tbl",
      Importer.ImportConfig(createTableIfNeeded = true, keyColumns = Seq("id"),
        mode = ImportMode.Upsert))
    assert(res.finalCount == 2)
    val meta = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "CREATED_TBL").load().schema
    assert(meta("ID").dataType == IntegerType)
    assert(meta("PRICE").dataType == DoubleType)
    assert(meta("NAME").dataType == StringType)
    assert(meta("D").dataType == DateType)
  }

  test("index auto-create on non-indexed merge keys reports its name") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"IX\" (\"A\" INTEGER, \"B\" VARCHAR(5))")
      st.close()
      val name = JdbcSink.createIndexIfNeeded(c, "ix", Seq("a"))
      assert(name.contains("IDX_IX_A"))
      assert(JdbcSink.createIndexIfNeeded(c, "ix", Seq("a")).isEmpty) // now indexed
    }
  }

  test("index auto-create counts keys as indexed only when one index leads with them") {
    def fresh(): String = {
      val url = freshDb()
      JdbcSink.withConnection(url) { c =>
        val st = c.createStatement()
        st.executeUpdate("CREATE TABLE \"IXL\" (\"A\" INTEGER, \"B\" INTEGER)")
        st.executeUpdate("CREATE INDEX \"IXL_AB\" ON \"IXL\" (\"A\", \"B\")")
        st.close()
      }
      url
    }
    // B is the second column of (A, B): not usable for a lookup on B alone
    JdbcSink.withConnection(fresh())(c =>
      assert(JdbcSink.createIndexIfNeeded(c, "ixl", Seq("b")).contains("IDX_IXL_B")))
    for (keys <- Seq(Seq("a"), Seq("b", "a")))
      JdbcSink.withConnection(fresh())(c =>
        assert(JdbcSink.createIndexIfNeeded(c, "ixl", keys).isEmpty, keys))
  }

  test("staging table: non-unique key index while in use, dropped afterwards or on failure") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"ST\" (\"K\" INTEGER, \"V\" VARCHAR(10))")
      st.close()
    }
    val df = Seq((Some(1), "a"), (Some(1), "b"), (None, "c")).toDF("k", "v")
    def indexes(c: java.sql.Connection, t: String): Seq[(String, Boolean)] = {
      val rs = c.getMetaData.getIndexInfo(null, null, t.toUpperCase, false, false)
      val b = Seq.newBuilder[(String, Boolean)]
      try while (rs.next()) b += ((rs.getString("COLUMN_NAME"), rs.getBoolean("NON_UNIQUE")))
      finally rs.close()
      b.result()
    }
    val tmp = JdbcSink.withStagingTable(df, url, "st", 1000, keys = Seq("k")) { (tmp, stats) =>
      assert(stats.inserted == 3) // repeated and NULL keys stage fine
      JdbcSink.withConnection(url)(c => assert(indexes(c, tmp) == Seq("K" -> true)))
      tmp
    }
    JdbcSink.withConnection(url)(c => assert(!JdbcSink.tableExists(c, tmp)))
    var failedTmp = ""
    intercept[IllegalStateException] {
      JdbcSink.withStagingTable(df, url, "st", 1000, keys = Seq("k")) { (t, _) =>
        failedTmp = t
        throw new IllegalStateException("use failed")
      }
    }
    assert(failedTmp.nonEmpty)
    JdbcSink.withConnection(url)(c => assert(!JdbcSink.tableExists(c, failedTmp)))
  }

  test("SQL script: per-statement errors collected; completeCommit rolls back") {
    val url = freshDb()
    val script =
      """CREATE TABLE "S1" ("A" INTEGER);
        |INSERT INTO "S1" VALUES (1);
        |INSERT INTO "NO_SUCH" VALUES (1);
        |INSERT INTO "S1" VALUES (2);
        |-- trailing comment
        |""".stripMargin
    val r = SqlScript.execute(url, script)
    assert(r.executed == 3 && r.errors.length == 1 && r.errors.head._1 == 2)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "s1") == 2))
    val r2 = intercept[java.sql.SQLException] {
      SqlScript.execute(url, "INSERT INTO \"S1\" VALUES (3); INSERT INTO \"NO_SUCH\" VALUES (1)",
        completeCommit = true)
    }
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "s1") == 2)) // rolled back
  }

  test("blob import: single payload into a BLOB column via update SQL") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"BL\" (\"ID\" INTEGER, \"B\" BLOB)")
      st.executeUpdate("INSERT INTO \"BL\" (\"ID\") VALUES (1)")
      st.close()
    }
    val n = JdbcSink.updateBlob(url, "UPDATE \"BL\" SET \"B\" = ? WHERE \"ID\" = 1",
      "payload-bytes".getBytes("UTF-8"))
    assert(n == 1)
    JdbcSink.withConnection(url) { c =>
      val rs = c.createStatement().executeQuery("SELECT \"B\" FROM \"BL\" WHERE \"ID\" = 1")
      rs.next()
      assert(new String(rs.getBytes(1), "UTF-8") == "payload-bytes")
    }
  }

  test("file format info: a path loads the file into BLOB/CLOB columns, gz unpacked") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"FL\" (\"ID\" INTEGER, \"B\" BLOB, \"T\" CLOB)")
      st.close()
    }
    val dir = SyntheticFixtures.dir("fileload")
    val plain = SyntheticFixtures.writeText(new File(dir, "a.txt"), "content-a")
    val gz = SyntheticFixtures.writeGz(new File(dir, "b.txt.gz"), "content-b")
    val missing = new File(dir, "missing.bin").getPath
    val src = Seq(("1", plain.getPath), ("2", gz.getPath), ("3", missing))
      .toDF("id", "path")
    val res = Importer.importToJdbc(src, url, "fl", Importer.ImportConfig(
      mapping = Some("id='id'; b='path' file; t='path' file")))
    // an unreadable path fails its parse like any bad value
    assert(res.found == 3 && res.invalid == 1 && res.inserted == 2)
    JdbcSink.withConnection(url) { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT \"ID\", \"B\", \"T\" FROM \"FL\" ORDER BY \"ID\"")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), new String(r.getBytes(2), "UTF-8"), r.getString(3)))
        .toSeq
      assert(got == Seq((1, "content-a", "content-a"), (2, "content-b", "content-b")))
    }
  }

  /** A parity fixture: Derby table `P` with an INTEGER key `K` and VARCHAR
    * value columns, its rows, and the raw string rows of the import.
    */
  private case class Fixture(values: Seq[String], pk: Boolean,
                             target: Seq[Seq[Any]], source: Seq[Seq[String]])
  /** One parity case; `rows` and `counts` (deleted, duplicates, inserted,
    * updated, finalCount) are literal expectations where given.
    */
  private case class ParityCase(fx: Fixture, cfg: Importer.ImportConfig,
                                rows: Option[Seq[Seq[Any]]] = None,
                                counts: Option[(Long, Long, Long, Long, Long)] = None)

  test("DB-side merge SQL produces the same result as the Spark-side merge") {
    // Each case runs Importer.importToJdbc (the SQL merge for these modes)
    // and compares rows and counts with Merge.importMerge on the same
    // frames. The matrix target repeats key 1; its source repeats key 1
    // and holds a NULL key and NULL values.
    val matrix = Fixture(Seq("a", "b"), pk = false,
      target = Seq(Seq(1, "a1", "b1"), Seq(1, "a1b", "b1b"), Seq(3, "a3", "b3")),
      source = Seq(Seq("1", "A1", null), Seq("1", null, "B1x"), Seq(null, "An", null),
        Seq("2", "A2", "B2"), Seq("5", null, "B5")))
    val keyed = Importer.ImportConfig(keyColumns = Seq("k"))
    val matrixCases = for {
      mode <- Seq(ImportMode.Insert, ImportMode.Update, ImportMode.Upsert, ImportMode.ClearInsert)
      dup <- Seq(DuplicateMode.NoCheck, DuplicateMode.CheckSourceOnlyDrop,
        DuplicateMode.CheckSourceOnlyJoin, DuplicateMode.UpdateAllDrop, DuplicateMode.UpdateAllJoin)
      updateWithNull <- Seq(true, false)
    } yield ParityCase(matrix,
      keyed.copy(mode = mode, duplicateMode = dup, updateWithNull = updateWithNull))
    val kv = (target: Seq[Seq[Any]], source: Seq[Seq[String]]) =>
      Fixture(Seq("v"), pk = false, target, source)
    val repeatedAndNullKey = kv(Seq(Seq(1, "old1"), Seq(3, "old3")),
      Seq(Seq("1", "a"), Seq("1", "b"), Seq(null, "n"), Seq("2", "c")))
    val literalCases = Seq(
      // CLEARINSERT with keys reports the cleared rows
      ParityCase(kv(Seq(Seq(1, "old1"), Seq(2, "old2"), Seq(7, "old7")),
          Seq(Seq("1", "a"), Seq("1", "b"), Seq("3", "c"))),
        keyed.copy(mode = ImportMode.ClearInsert),
        rows = Some(Seq(Seq(1, "b"), Seq(3, "c"))), counts = Some((3L, 1L, 2L, 0L, 2L))),
      // last-non-null join-dup: key 1 -> (A1, B1x); inserts 2 and 5
      ParityCase(Fixture(Seq("a", "b"), pk = true,
          Seq(Seq(1, "a1", "b1"), Seq(3, "a3", "b3"), Seq(9, "a9", "b9")),
          Seq(Seq("1", "A1", null), Seq("1", null, "B1x"), Seq("2", "A2", "B2"),
            Seq("5", null, "B5"))),
        keyed.copy(mode = ImportMode.Upsert, updateWithNull = false),
        rows = Some(Seq(Seq(1, "A1", "B1x"), Seq(2, "A2", "B2"), Seq(3, "a3", "b3"),
          Seq(5, null, "B5"), Seq(9, "a9", "b9"))),
        counts = Some((0L, 1L, 2L, 1L, 5L))),
      // NO_CHECK INSERT counts no duplicates and appends every row
      ParityCase(kv(Seq(Seq(1, "old")), Seq(Seq("1", "a"), Seq("1", "b"), Seq("2", "c"))),
        keyed.copy(duplicateMode = DuplicateMode.NoCheck),
        rows = Some(Seq(Seq(1, "a"), Seq(1, "b"), Seq(1, "old"), Seq(2, "c"))),
        counts = Some((0L, 0L, 3L, 0L, 4L))),
      // UPSERT with a NULL and a repeated key stages into a non-unique table
      ParityCase(repeatedAndNullKey, keyed.copy(mode = ImportMode.Upsert)),
      ParityCase(repeatedAndNullKey,
        keyed.copy(mode = ImportMode.Upsert, duplicateMode = DuplicateMode.NoCheck)))

    def sorted(rows: Seq[Seq[Any]]) = rows.sortBy(_.mkString("|"))
    for (pc <- matrixCases ++ literalCases) {
      val (fx, cfg) = (pc.fx, pc.cfg)
      val clue = s"${cfg.mode} ${cfg.duplicateMode} updateWithNull=${cfg.updateWithNull} " +
        fx.target
      val cols = "k" +: fx.values
      val url = freshDb()
      JdbcSink.withConnection(url) { c =>
        val st = c.createStatement()
        val pk = if (fx.pk) " PRIMARY KEY" else ""
        st.executeUpdate(s"""CREATE TABLE "P" ("K" INTEGER$pk, """ +
          fx.values.map(v => s""""${v.toUpperCase}" VARCHAR(10)""").mkString(", ") + ")")
        st.close()
        val ps = c.prepareStatement(
          s"INSERT INTO \"P\" VALUES (${cols.map(_ => "?").mkString(", ")})")
        fx.target.foreach { r =>
          r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
          ps.executeUpdate()
        }
        ps.close()
      }
      def frame(rows: Seq[Seq[Any]], schema: Seq[StructField]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 1), StructType(schema))
      val raw = frame(fx.source, cols.map(StructField(_, StringType)))
      val res = Importer.importToJdbc(raw, url, "p", cfg)
      val got = JdbcSink.withConnection(url) { c =>
        val rs = c.createStatement().executeQuery("SELECT * FROM \"P\"")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => cols.indices.map(i => r.getObject(i + 1)).toSeq).toList
      }

      // the reference twin of the merge matrix, on the same frames
      val target = frame(fx.target,
        StructField("k", IntegerType) +: fx.values.map(StructField(_, StringType)))
      val staged = Ordinals.withArrivalOrdinal(raw.withColumn("k", col("k").cast("int")), "ord")
      val keys = Seq(Merge.Key("k"))
      val want = Merge.importMerge(target, staged, keys, cfg.mode, cfg.duplicateMode,
        cfg.updateWithNull, sourceOrder = col("ord"), targetOrder = Seq(col("k")))
        .collect().map(_.toSeq).toSeq
      assert(sorted(got) == sorted(want), clue)
      pc.rows.foreach(r => assert(sorted(got) == sorted(r), clue))

      val clear = cfg.mode == ImportMode.ClearInsert
      val sourceKeys = fx.source.flatMap(r => Option(r.head)).map(_.toInt).toSet
      val updated = cfg.mode match {
        case ImportMode.Update | ImportMode.Upsert if !cfg.duplicateMode.sourceOnly =>
          fx.target.count(r => sourceKeys(r.head.asInstanceOf[Int])).toLong
        case _ => 0L
      }
      val dups = staged.count() - Merge.stage(staged, keys, cfg.duplicateMode,
        cfg.updateWithNull, col("ord")).count()
      val inserted = want.size - (if (clear) 0 else fx.target.size)
      val counts = (res.deleted, res.duplicates, res.inserted, res.updated, res.finalCount)
      assert(counts == ((if (clear) fx.target.size.toLong else 0L), dups, inserted.toLong,
        updated, want.size.toLong), clue)
      pc.counts.foreach(c => assert(counts == c, clue))
    }
  }

  test("DB-side merge rejects MAKE_UNIQUE_DROP before staging, target unchanged") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"MU\" (\"K\" INTEGER, \"V\" VARCHAR(10))")
      st.executeUpdate("INSERT INTO \"MU\" VALUES (1, 'x'), (1, 'y'), (2, 'z')")
      st.close()
    }
    val src = Seq(("1", "new"), ("3", "ins")).toDF("k", "v")
    def readOut() = spark.read.format("jdbc").option("url", url).option("dbtable", "MU").load()
      .orderBy("K", "V").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val ex = intercept[IllegalArgumentException] {
      JdbcMerge.mergeViaSql(src.withColumn("k", col("k").cast("int")), url, "mu",
        Seq("k"), ImportMode.Upsert, DuplicateMode.MakeUniqueDrop)
    }
    assert(ex.getMessage.contains("MakeUniqueDrop"))
    assert(readOut() == Seq((1, "x"), (1, "y"), (2, "z")))
    // the same import through the orchestrator takes the Spark merge: the
    // target keeps the first row of key 1 by (k, v), updates it, inserts 3
    val res = Importer.importToJdbc(src, url, "mu",
      Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k"),
        duplicateMode = DuplicateMode.MakeUniqueDrop))
    assert(readOut() == Seq((1, "new"), (2, "z"), (3, "ins")))
    assert(res.inserted == 0 && res.updated == 1 && res.finalCount == 3)
  }

  test("SQL merge UPSERT keeps identity ids and fills DEFAULT columns of inserted rows") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"IDT\" (\"ID\" INTEGER GENERATED ALWAYS AS IDENTITY, " +
        "\"K\" INTEGER PRIMARY KEY, \"V\" VARCHAR(10), \"D\" VARCHAR(10) DEFAULT 'dflt')")
      st.executeUpdate("INSERT INTO \"IDT\" (\"K\", \"V\", \"D\") VALUES (1, 'old', 'mine')")
      st.close()
    }
    val src = Seq(("1", "upd"), ("2", "new")).toDF("k", "v")
    val res = Importer.importToJdbc(src, url, "idt",
      Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k")))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "IDT").load()
      .orderBy("K").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq
    // the INSERT names only the mapped columns: the DB generates the id
    // and the default
    assert(got == Seq((1, 1, "upd", "mine"), (2, 2, "new", "dflt")))
    assert(res.inserted == 1 && res.updated == 1 && res.finalCount == 2)
  }

  test("SQL merge rolls the UPDATE back when the INSERT after it fails") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"CK\" (\"K\" INTEGER PRIMARY KEY, " +
        "\"V\" VARCHAR(10) CHECK (\"V\" <> 'bad'))")
      st.executeUpdate("INSERT INTO \"CK\" VALUES (1, 'old')")
      st.close()
    }
    // key 1 updates fine; inserting key 2 violates the CHECK constraint
    val src = Seq(("1", "upd"), ("2", "bad")).toDF("k", "v")
    intercept[java.sql.SQLException] {
      Importer.importToJdbc(src, url, "ck",
        Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k")))
    }
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "CK").load()
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "old")))
  }

  test("keyed SQL-merge UPSERT reads each source row 3 times: found, invalid, staging fill") {
    val url = freshDb()
    JdbcSink.withConnection(url)(c => JdbcSink.createTable(c, "rc",
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))),
      keys = Seq("k")))
    val reads = spark.sparkContext.longAccumulator("spec.rowsRead")
    // non-deterministic, so no optimizer rule may prune or fold it away
    val counted = udf { () => reads.add(1L); true }.asNondeterministic()
    val rows = (1 to 20).map(i => ((i % 15).toString, s"v$i"))
    val src = spark.sparkContext.parallelize(rows, 2).toDF("k", "v").filter(counted())
    val res = Importer.importToJdbc(src, url, "rc",
      Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k")))
    assert(res.found == 20 && res.duplicates == 5 && res.inserted == 15 &&
      res.finalCount == 15)
    assert(reads.value == 3L * rows.size)
  }

  test("first occurrence is partition order across partitions, on both merge paths") {
    // keys 1 and 2 arrive in partition 0 and again in partition 2
    val rows = Seq(("1", "a0", "x0"), ("2", "b0", "y0"), ("3", "c1", "z1"),
      ("4", "d1", "z4"), ("1", "a2", null), ("2", null, "y2"))
    val rdd = spark.sparkContext.parallelize(rows, 3)
    assert(rdd.glom().collect().map(_.map(_._1).toSeq).toSeq ==
      Seq(Seq("1", "2"), Seq("3", "4"), Seq("1", "2")))
    val raw = rdd.toDF("k", "v", "w")
    val targetRows = Seq(Seq(1, "t", "t"), Seq(1, "u", "u"), Seq(9, "n", "n"))
    val target = spark.createDataFrame(
      spark.sparkContext.parallelize(targetRows.map(Row.fromSeq(_)), 1),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("w", StringType))))
    val keyed = Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k"))
    val common = Seq(Seq(3, "c1", "z1"), Seq(4, "d1", "z4"), Seq(9, "n", "n"))
    val cases = Seq(
      // keep-first: the partition-0 rows
      keyed.copy(duplicateMode = DuplicateMode.UpdateAllDrop) -> Seq(
        Seq(1, "a0", "x0"), Seq(1, "a0", "x0"), Seq(2, "b0", "y0")),
      // last wins: the partition-2 values, nulls included
      keyed.copy(duplicateMode = DuplicateMode.UpdateAllJoin) -> Seq(
        Seq(1, "a2", null), Seq(1, "a2", null), Seq(2, null, "y2")),
      // last non-null wins, per column
      keyed.copy(duplicateMode = DuplicateMode.UpdateAllJoin, updateWithNull = false) -> Seq(
        Seq(1, "a2", "x0"), Seq(1, "a2", "x0"), Seq(2, "b0", "y2")),
      // Spark merge: the first target row of key 1 takes the partition-0 row
      keyed.copy(duplicateMode = DuplicateMode.UpdateFirstDrop) -> Seq(
        Seq(1, "a0", "x0"), Seq(1, "u", "u"), Seq(2, "b0", "y0")))
    def sorted(rs: Seq[Seq[Any]]) = rs.sortBy(_.mkString("|"))
    for ((cfg, changed) <- cases) {
      val clue = s"${cfg.duplicateMode} updateWithNull=${cfg.updateWithNull}"
      val url = freshDb()
      JdbcSink.withConnection(url) { c =>
        val st = c.createStatement()
        st.executeUpdate("CREATE TABLE \"FO\" (\"K\" INTEGER, \"V\" VARCHAR(10), " +
          "\"W\" VARCHAR(10))")
        st.executeUpdate("INSERT INTO \"FO\" VALUES (1, 't', 't'), (1, 'u', 'u'), (9, 'n', 'n')")
        st.close()
      }
      val res = Importer.importToJdbc(raw, url, "fo", cfg)
      val got = JdbcSink.withConnection(url) { c =>
        val rs = c.createStatement().executeQuery("SELECT * FROM \"FO\"")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => Seq[Any](r.getInt(1), r.getString(2), r.getString(3))).toList
      }
      assert(sorted(got) == sorted(changed ++ common), clue)
      assert(res.duplicates == 2, clue)
      // the reference twin, ordered by the 1-based arrival ordinal
      val staged = Ordinals.withArrivalOrdinal(raw.withColumn("k", col("k").cast("int")), "ord")
      val want = Merge.importMerge(target, staged, Seq(Merge.Key("k")), cfg.mode,
        cfg.duplicateMode, cfg.updateWithNull, sourceOrder = col("ord"),
        targetOrder = Seq(col("k"), col("v"), col("w")))
        .collect().map(_.toSeq).toSeq
      assert(sorted(got) == sorted(want), clue)
    }
  }

  test("error channel in the orchestrator: unparseable rows diverted + exported") {
    val url = freshDb()
    JdbcSink.withConnection(url)(c =>
      JdbcSink.createTable(c, "ec", StructType(Seq(
        StructField("column_integer", IntegerType),
        StructField("column_date", DateType)))))
    val src = Seq(("1", "01.02.2003"), ("not-a-number", "02.02.2003"), ("3", "junk-date"))
      .toDF("column_integer", "column_date")
    val exportDir = new File(SyntheticFixtures.dir("ecerr"), "errors").getPath
    val res = Importer.importToJdbc(src, url, "ec",
      Importer.ImportConfig(errorExportPath = Some(exportDir)))
    assert(res.found == 3 && res.valid == 1 && res.invalid == 2 && res.finalCount == 1)
    val errs = spark.read.option("header", "true").option("sep", ";").csv(exportDir)
    assert(errs.count() == 2)
    val reasons = errs.select("error_reason").collect().map(_.getString(0)).sorted
    assert(reasons.toSeq ==
      Seq("invalid value for column_date", "invalid value for column_integer"))
  }

  test("completeCommit + data errors aborts the import with the target unchanged") {
    // reference testCsvImportErrorDataTypeRollback semantics
    // (DbImportWorker.java:1006-1008): under commitOnFullSuccessOnly any
    // invalid row rolls back the ENTIRE import
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      JdbcSink.createTable(c, "ecr", StructType(Seq(
        StructField("column_integer", IntegerType))))
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO \"ECR\" (\"COLUMN_INTEGER\") VALUES (7)")
      st.close()
    }
    val src = Seq("1", "not-a-number", "3").toDF("column_integer")
    val ex = intercept[IllegalStateException] {
      Importer.importToJdbc(src, url, "ecr",
        Importer.ImportConfig(completeCommit = true))
    }
    assert(ex.getMessage.contains("import aborted"))
    // pre-existing row intact, nothing appended
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "ECR")
      .load().collect().map(_.getInt(0)).toSeq
    assert(got == Seq(7))
  }

  test("additional insert/update values: DB-evaluated SQL in the merge statements") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"AV\" (\"K\" INTEGER PRIMARY KEY, \"V\" VARCHAR(10), " +
        "\"CREATED\" VARCHAR(10), \"TOUCHED\" INTEGER)")
      st.executeUpdate("INSERT INTO \"AV\" (\"K\", \"V\") VALUES (1, 'old')")
      st.executeUpdate("INSERT INTO \"AV\" (\"K\", \"V\", \"TOUCHED\") VALUES (3, 'keep', 7)")
      st.close()
    }
    val src = Seq(("1", "upd"), ("2", "new")).toDF("k", "v")
    Importer.importToJdbc(src, url, "av",
      Importer.ImportConfig(mode = ImportMode.Upsert, keyColumns = Seq("k"),
        additionalInsertValues = Map("created" -> "'ins'"),
        additionalUpdateValues = Map("touched" -> "41 + 1")))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "AV").load()
      .orderBy("K").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    // key 1 updated (touched=42, created untouched-null), key 2 inserted
    // (created='ins'), key 3 untouched (not staged)
    assert(got.toSeq == Seq((1, "upd", null, 42), (2, "new", "ins", -1),
      (3, "keep", null, 7)))
    // an import mapping only the key still sets the extra update values
    val res = Importer.importToJdbc(Seq("3").toDF("k"), url, "av",
      Importer.ImportConfig(mode = ImportMode.Update, keyColumns = Seq("k"),
        additionalUpdateValues = Map("touched" -> "8")))
    val touched = spark.read.format("jdbc").option("url", url).option("dbtable", "AV").load()
      .filter("K = 3").select("TOUCHED").collect().map(_.getInt(0)).toSeq
    assert(touched == Seq(8) && res.updated == 1)
  }

  test("additional insert values reach sourceOnly-appended duplicate-key rows") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"AVN\" (\"K\" INTEGER, \"V\" VARCHAR(10), " +
        "\"CREATED\" VARCHAR(10))")
      st.executeUpdate("INSERT INTO \"AVN\" (\"K\", \"V\") VALUES (1, 'old')")
      st.close()
    }
    // NO_CHECK Insert appends EVERY staged row — including key 1, which
    // already exists. The reference's plain INSERT applies the extra
    // insert expressions to all inserted rows, so the appended (1,'dup')
    // must get created='ins' while the original (1,'old') stays null —
    // routing a key join alone cannot decide.
    val src = Seq(("1", "dup"), ("2", "new")).toDF("k", "v")
    Importer.importToJdbc(src, url, "avn",
      Importer.ImportConfig(mode = ImportMode.Insert, keyColumns = Seq("k"),
        duplicateMode = DuplicateMode.NoCheck,
        additionalInsertValues = Map("created" -> "'ins'")))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "AVN").load()
      .orderBy("K", "V").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1, "dup", "ins"), (1, "old", null), (2, "new", "ins")))
  }

  test("UPDATE_FIRST: additional update values reach only the row the merge updates") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"AUF\" (\"K\" INTEGER, \"V\" VARCHAR(10), " +
        "\"TOUCHED\" INTEGER)")
      st.executeUpdate("INSERT INTO \"AUF\" (\"K\", \"V\") VALUES (1, 'b'), (1, 'a'), (2, 'c')")
      st.close()
    }
    val src = Seq(("1", "new")).toDF("k", "v")
    val res = Importer.importToJdbc(src, url, "auf",
      Importer.ImportConfig(mode = ImportMode.Update, keyColumns = Seq("k"),
        duplicateMode = DuplicateMode.UpdateFirstJoin,
        additionalUpdateValues = Map("touched" -> "41 + 1")))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "AUF").load()
      .orderBy("K", "V").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    // the first row of key 1 by (k, v, touched) is (1, 'a'): only it is
    // updated and touched; (1, 'b') and key 2 stay as they were
    assert(got == Seq((1, "b", -1), (1, "new", 42), (2, "c", -1)))
    assert(res.updated == 1)
  }

  test("rewriteAtomic keeps the target intact when staging fails") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"RWA\" (\"K\" INTEGER, \"V\" VARCHAR(2000))")
      st.executeUpdate("INSERT INTO \"RWA\" (\"K\", \"V\") VALUES (1, 'precious')")
      st.close()
    }
    // staging temp mirrors the 2000-char target width — a value of 1500
    // chars must stage fine (the old 1024 default would reject it)...
    val ok = Seq((2, "x" * 1500)).toDF("k", "v")
    JdbcSink.rewriteAtomic(ok, url, "rwa")
    // ...and a value over the real width fails during staging, BEFORE
    // the target is touched: old contents must survive
    val tooBig = Seq((3, "y" * 3000)).toDF("k", "v")
    intercept[Exception] { JdbcSink.rewriteAtomic(tooBig, url, "rwa") }
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "RWA").load()
      .collect().map(r => (r.getInt(0), r.getString(1).length)).toSeq
    assert(got == Seq((2, 1500))) // first rewrite applied; failed one didn't clear
  }

  test("integer overflow routes to the error channel (testCsvImportTooBigIntegerError)") {
    val url = freshDb()
    JdbcSink.withConnection(url)(c =>
      JdbcSink.createTable(c, "ovf", StructType(Seq(
        StructField("column_integer", IntegerType)))))
    val src = Seq("123", "12345678901234567890", "456").toDF("column_integer")
    val res = Importer.importToJdbc(src, url, "ovf", Importer.ImportConfig())
    assert(res.valid == 2 && res.invalid == 1 && res.finalCount == 2)
  }

  test("limited batch block size: fallback isolates only the bad block's row") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"LB\" (\"K\" INTEGER PRIMARY KEY)")
      st.close()
    }
    // blockSize=2 over 6 rows, duplicate key in the middle block
    val df = Seq(1, 2, 3, 3, 5, 6).toDF("k").coalesce(1)
    val stats = JdbcSink.appendBatch(df, url, "lb", batchSize = 2)
    assert(stats.inserted == 5 && stats.failedRows == 1 && stats.fallbackBlocks == 1)
  }

  test("no-headers import maps column_N names through the mapping") {
    val url = freshDb()
    JdbcSink.withConnection(url)(c =>
      JdbcSink.createTable(c, "nh", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))))
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("nohdr2"), "x.csv"), "7;seven\n8;eight")
    val src = graft.sources.CsvSource.read(spark, f.getPath,
      graft.sources.CsvSource.CsvOptions(header = false))
    val res = Importer.importToJdbc(src, url, "nh",
      Importer.ImportConfig(mapping = Some("a='column_1'; b='column_2'")))
    assert(res.inserted == 2 && res.finalCount == 2)
  }

  test("validation side channel: invalid rows diverted with reason") {
    val df = Seq(("1", "a@x.com"), ("x", "b@y.com"), ("3", "not-mail"))
      .toDF("id", "email")
    val v = Validation.validate(df, Seq(
      "invalid integer" -> col("id").rlike("^\\d+$").unary_!,
      "invalid email" -> graft.functions.Transforms.emailValid(col("email")).unary_!))
    assert(v.valid.count() == 1)
    val errs = v.errors.orderBy("id").collect()
    assert(errs.map(_.getAs[String]("error_reason")).toSeq ==
      Seq("invalid email", "invalid integer"))
  }

  test("PostgreSQL COMMENT clause stripped from CREATE TABLE statements") {
    import graft.sink.SqlScript.stripPostgresComment
    assert(stripPostgresComment(
      "CREATE TABLE t (a INTEGER COMMENT 'the ''a'' col', b INTEGER)") ==
      "CREATE TABLE t (a INTEGER, b INTEGER)")
    // only CREATE TABLE statements with a COMMENT clause are touched
    val untouched = "INSERT INTO t VALUES ('keep COMMENT ''x'' intact')"
    assert(stripPostgresComment(untouched) == untouched)
  }

  test("import statistics include data amount, duration, items/second") {
    val url = freshDb()
    val df = Seq(("1", "a"), ("2", "b"), ("3", "c")).toDF("id", "v")
    val r = Importer.importToJdbc(df, url, "statt",
      Importer.ImportConfig(createTableIfNeeded = true, dataAmount = 123L))
    assert(r.found == 3 && r.dataAmount == 123L)
    assert(r.durationMs > 0 && r.itemsPerSecond > 0.0)
  }

  test("progress listener reports task counts and ETA lines") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new graft.api.ProgressListener("spec-import", intervalMs = 0,
      log = s => lines.synchronized { lines += s })
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(100000).repartition(8).selectExpr("sum(id)").collect()
      // listener events arrive on the bus asynchronously
      val deadline = System.nanoTime() + 5000000000L
      while (listener.tasksDone < 8 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listener.tasksDone >= 8 && listener.tasksTotal >= listener.tasksDone)
    lines.synchronized {
      assert(lines.nonEmpty && lines.forall(l =>
        l.startsWith("spec-import:") && l.contains("ETA")))
    }
  }

  test("createtruststore endpoint parse: IPv6 literals are not split at their last colon") {
    import TrustStore.splitHostPort
    assert(splitHostPort("db.example.com", 443) === (("db.example.com", 443)))
    assert(splitHostPort("db.example.com:5432", 443) === (("db.example.com", 5432)))
    // bare v6 literals: the whole string is the host
    assert(splitHostPort("::1", 443) === (("::1", 443)))
    assert(splitHostPort("2001:db8::1", 443) === (("2001:db8::1", 443)))
    // bracketed v6 with and without an explicit port
    assert(splitHostPort("[::1]:9042", 443) === (("::1", 9042)))
    assert(splitHostPort("[2001:db8::1]", 443) === (("2001:db8::1", 443)))
    intercept[IllegalArgumentException](splitHostPort("[::1]:x", 443))
    intercept[IllegalArgumentException](splitHostPort("[::1", 443))
  }
}
