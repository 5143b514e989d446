package graft.cli

import java.io.File

import graft.SparkSpec
import graft.api.MultiImporter
import graft.sink.JdbcSink
import graft.sources.SyntheticFixtures

/** CLI surface + multi-file worker. */
class CliSpec extends SparkSpec {

  private var dbN = 200
  private def freshDb(): String = { dbN += 1; s"jdbc:derby:memory:clidb$dbN;create=true" }

  test("arg parse covers the reference's main flags") {
    val a = Main.parseArgs(Array("jdbc:x", "tbl", "f.csv", "-i", "UPSERT", "-k", "a,b",
      "-d", "UPDATE_FIRST_DROP", "-create", "-t", "-c", "-n", "NULL",
      "-sep", ",", "-noheaders", "-batchBlockSize", "500"))
    assert(a.cfg.mode == graft.operators.Merge.ImportMode.Upsert)
    assert(a.cfg.keyColumns == Seq("a", "b"))
    assert(a.cfg.duplicateMode == graft.operators.Merge.DuplicateMode.UpdateFirstDrop)
    assert(a.cfg.createTableIfNeeded && a.cfg.trimValues && a.cfg.completeCommit)
    assert(a.nullToken.contains("NULL") && a.sep == "," && !a.headers)
    assert(a.cfg.batchSize == 500)
    intercept[IllegalArgumentException](Main.parseArgs(Array("u", "t", "f", "-bogus")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("u", "t", "f", "-i", "JUNK")))
  }

  test("end-to-end CLI run: csv upsert with -create") {
    val url = freshDb()
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("cli"), "people.csv"),
      "id;name\n1;ann\n2;bob\n2;bea")
    val a = Main.parseArgs(Array(url, "people", f.getPath,
      "-i", "UPSERT", "-k", "id", "-create"))
    assert(Main.run(spark, a) == 0)
    JdbcSink.withConnection(url) { c =>
      assert(JdbcSink.countRows(c, "people") == 2) // join-duplicates on 2
    }
  }

  test("multi-file glob with -table '*' derives one table per file") {
    val url = freshDb()
    val dir = SyntheticFixtures.dir("climulti")
    SyntheticFixtures.writeText(new File(dir, "t_one.csv"), "id;v\n1;x")
    SyntheticFixtures.writeText(new File(dir, "t_two.csv"), "id;v\n1;y\n2;z")
    val a = Main.parseArgs(Array(url, "*", new File(dir, "t_*.csv").getPath,
      "-i", "INSERT", "-create"))
    val results = MultiImporter.importGlob(spark, a.importPathOrData, url, "*",
      a.cfg, (s, f) => Main.readSource(s, a, f))
    assert(results.map(_.table) == Seq("t_one", "t_two"))
    assert(results.forall(_.result.isRight))
    JdbcSink.withConnection(url) { c =>
      assert(JdbcSink.countRows(c, "t_one") == 1)
      assert(JdbcSink.countRows(c, "t_two") == 2)
    }
  }

  test("multi-file validation fails fast when tables missing without -create") {
    val url = freshDb()
    JdbcSink.withConnection(url)(_ => ())
    val dir = SyntheticFixtures.dir("climissing")
    SyntheticFixtures.writeText(new File(dir, "nope_tbl.csv"), "id\n1")
    val e = intercept[IllegalArgumentException] {
      MultiImporter.importGlob(spark, new File(dir, "nope_*.csv").getPath, url, "*",
        graft.api.Importer.ImportConfig(), (s, f) => Main.readSource(s,
          Main.parseArgs(Array(url, "*", f)), f))
    }
    assert(e.getMessage.contains("nope_tbl"))
  }

  test("-analyse lists property names with inferred types") {
    import spark.implicits._
    val src = Seq(("1", "x", "2.5")).toDF("id", "name", "price")
    val got = MultiImporter.analyse(src).toMap
    assert(got == Map("id" -> "INTEGER", "name" -> "VARCHAR", "price" -> "DOUBLE"))
  }

  private def tableRows(url: String, table: String): (Seq[String], Seq[String]) = {
    val df = spark.read.format("jdbc").option("url", url)
      .option("dbtable", table.toUpperCase).load()
    (df.columns.toSeq, df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
  }

  test("inline -data payload imports through the same path") {
    val dir = SyntheticFixtures.dir("cliinline")
    val payloads = Seq(
      "csv" -> "id;v\n5;q\n6;r",
      "json" -> """[{"id": 5, "v": "q"}, {"id": 6, "v": "r"}]""",
      "yaml" -> "- id: 5\n  v: q\n- id: 6\n  v: r\n",
      "vcf" -> ("BEGIN:VCARD\nVERSION:3.0\nN:Doe;Jane;;;\nTEL:123\nEND:VCARD\n" +
        "BEGIN:VCARD\nVERSION:3.0\nN:Roe;Rick;;;\nEND:VCARD\n"))
    payloads.foreach { case (ext, payload) =>
      val url = freshDb()
      val f = SyntheticFixtures.writeText(new File(dir, s"rows.$ext"), payload)
      val inline = Main.parseArgs(Array(url, "inline_t", payload, "-data", "-create", "-i", "INSERT"))
      val file = Main.parseArgs(Array(url, "file_t", f.getPath, "-create", "-i", "INSERT"))
      assert(Main.run(spark, inline) == 0, ext)
      assert(Main.run(spark, file) == 0, ext)
      val (cols, rows) = tableRows(url, "inline_t")
      assert(rows.size == 2, ext)
      assert((cols, rows) == tableRows(url, "file_t"), ext)
    }
  }

  test("importblob mode loads one file into a BLOB column via -updatesql") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE \"DOCS\" (\"ID\" INTEGER, \"PAYLOAD\" BLOB)")
      st.execute("INSERT INTO \"DOCS\" (\"ID\") VALUES (7)")
      st.close()
    }
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("cliblob"), "payload.bin"), "blob-bytes-123")
    val a = Main.parseArgs(Array(url, "-", f.getPath, "importblob",
      "-updatesql", "UPDATE \"DOCS\" SET \"PAYLOAD\" = ? WHERE \"ID\" = 7"))
    assert(a.blobImport && a.updateSql.isDefined)
    assert(Main.run(spark, a) == 0)
    JdbcSink.withConnection(url) { c =>
      val rs = c.createStatement().executeQuery("SELECT \"PAYLOAD\" FROM \"DOCS\" WHERE \"ID\" = 7")
      rs.next()
      assert(new String(rs.getBytes(1), "UTF-8") == "blob-bytes-123")
    }
  }

  test("-sp schema pre-pass gates JSON and XML imports") {
    import graft.sources.{SchemaValidation, SyntheticFixtures => SF}
    val dir = SF.dir("clischema")
    val okJson = SF.writeText(new File(dir, "rows.json"),
      """[{"id": 1, "name": "ann"}, {"id": 2, "name": "bob"}]""")
    val schema = SF.writeText(new File(dir, "rows.schema.json"),
      """{"type": "array", "items": {"type": "object",
        |  "required": ["id", "name"],
        |  "properties": {"id": {"type": "integer", "minimum": 0},
        |                 "name": {"type": "string", "minLength": 1}}}}""".stripMargin)
    SchemaValidation.validateJsonSchema(okJson.getPath, schema.getPath)
    val badJson = SF.writeText(new File(dir, "bad.json"),
      """[{"id": -3, "name": "ann"}]""")
    val e = intercept[IllegalArgumentException](
      SchemaValidation.validateJsonSchema(badJson.getPath, schema.getPath))
    assert(e.getMessage.contains("does not comply to JSON schema"))
    val missing = intercept[IllegalArgumentException](
      SchemaValidation.validateJsonSchema(okJson.getPath, dir.getPath + "/nope.json"))
    assert(missing.getMessage.contains("does not exist"))

    val okXml = SF.writeText(new File(dir, "rows.xml"),
      "<list><entry><id>1</id></entry></list>")
    val xsd = SF.writeText(new File(dir, "rows.xsd"),
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        | <xs:element name="list"><xs:complexType><xs:sequence>
        |  <xs:element name="entry" maxOccurs="unbounded"><xs:complexType><xs:sequence>
        |   <xs:element name="id" type="xs:integer"/>
        |  </xs:sequence></xs:complexType></xs:element>
        | </xs:sequence></xs:complexType></xs:element>
        |</xs:schema>""".stripMargin)
    SchemaValidation.validateXsd(okXml.getPath, xsd.getPath)
    val badXml = SF.writeText(new File(dir, "bad.xml"),
      "<list><entry><id>not-a-number</id></entry></list>")
    val ex = intercept[IllegalArgumentException](
      SchemaValidation.validateXsd(badXml.getPath, xsd.getPath))
    assert(ex.getMessage.contains("does not comply to XSD"))
    // -sp is a JSON/XML concept: any other format refuses it
    val csv = SF.writeText(new File(dir, "x.csv"), "a;b\n1;2")
    val aCsv = Main.parseArgs(Array("jdbc:x", "t", csv.getPath, "-sp", schema.getPath))
    intercept[IllegalArgumentException](Main.readSource(spark, aCsv, csv.getPath))
  }

  test("connectiontest mode reports per-iteration latency") {
    val url = freshDb()
    val a = Main.parseArgs(Array(url, "-", "-", "connectiontest",
      "-iter", "2", "-check", "VALUES 1"))
    assert(a.connectionTest && a.iterations == 2 && a.checkSql.contains("VALUES 1"))
    assert(Main.run(spark, a) == 0)
    val bad = Main.parseArgs(Array("jdbc:derby:memory:nope_no_create", "-", "-",
      "connectiontest"))
    assert(Main.run(spark, bad) == 1)
  }

  test("-insvalues/-updvalues and -kdbxpassword flow into the import") {
    val a = Main.parseArgs(Array("jdbc:x", "t", "f.kdbx",
      "-insvalues", "created=current_timestamp; src='cli'",
      "-updvalues", "updated=current_timestamp",
      "-kdbxpassword", "pw"))
    assert(a.cfg.additionalInsertValues ==
      Map("created" -> "current_timestamp", "src" -> "'cli'"))
    assert(a.cfg.additionalUpdateValues == Map("updated" -> "current_timestamp"))
    assert(a.kdbxPassword.contains("pw"))
    // end-to-end: kdbx vault through the CLI format sniffer into Derby
    val url = freshDb()
    val f = new File(graft.sources.SyntheticFixtures.dir("clikdbx"), "v.kdbx")
    graft.sources.KdbxWriter.write4(f, "pw", Seq(
      Map("Title" -> "one", "UserName" -> "u1"),
      Map("Title" -> "two", "UserName" -> "u2")))
    val run = Main.parseArgs(Array(url, "vault", f.getPath,
      "-kdbxpassword", "pw", "-create", "-i", "INSERT"))
    assert(Main.run(spark, run) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "vault") == 2))
  }

  test("-e encoding, -v progress, and -l stats log file") {
    val url = freshDb()
    val dir = SyntheticFixtures.dir("cliflags")
    // ISO-8859-1 CSV with a non-ASCII value
    val f = new File(dir, "latin.csv")
    java.nio.file.Files.write(f.toPath,
      "id;name\n1;Müller".getBytes("ISO-8859-1"))
    val a = Main.parseArgs(Array(url, "latin_t", f.getPath,
      "-e", "ISO-8859-1", "-create", "-i", "INSERT", "-v", "-l"))
    assert(a.encoding == "ISO-8859-1" && a.verbose && a.logToFile)
    assert(Main.run(spark, a) == 0)
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "LATIN_T").load().collect()(0)
    assert(got.getAs[String]("NAME") == "Müller")
    val log = new File(f.getPath + ".import.log")
    assert(log.exists())
    val text = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    assert(text.contains("Found: 1") && text.contains("Items/second"))
  }

  test("SQL script mode executes against the sink") {
    val url = freshDb()
    val f = SyntheticFixtures.writeText(new File(SyntheticFixtures.dir("clisql"), "s.sql"),
      "CREATE TABLE \"SCRIPTED\" (\"A\" INTEGER); INSERT INTO \"SCRIPTED\" VALUES (42)")
    val a = Main.parseArgs(Array(url, "-", f.getPath, "-x", "SQL"))
    assert(Main.run(spark, a) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "scripted") == 1))
  }

  test("-e decodes JSON, YAML, XML and vCard files too") {
    val dir = SyntheticFixtures.dir("clicharset")
    Seq(
      "latin.json" -> ("""[{"id": 1, "name": "Müller"}]""", "NAME"),
      "latin.yaml" -> ("- id: 1\n  name: Müller\n", "NAME"),
      "latin.xml" -> ("<list><entry><id>1</id><name>Müller</name></entry></list>", "NAME"),
      "latin.vcf" -> ("BEGIN:VCARD\nVERSION:3.0\nN:Müller;Hans;;;\nEND:VCARD\n", "LASTNAME")
    ).foreach { case (name, (content, column)) =>
      val url = freshDb()
      val f = new File(dir, name)
      java.nio.file.Files.write(f.toPath, content.getBytes("ISO-8859-1"))
      val a = Main.parseArgs(Array(url, "latin_t", f.getPath,
        "-e", "ISO-8859-1", "-create", "-i", "INSERT"))
      assert(Main.run(spark, a) == 0, name)
      val got = spark.read.format("jdbc").option("url", url)
        .option("dbtable", "LATIN_T").load().collect()(0)
      assert(got.getAs[String](column) == "Müller", name)
    }
  }

  test("-sp JSON pre-pass decodes the data with -e") {
    val dir = SyntheticFixtures.dir("clispcharset")
    val url = freshDb()
    val f = new File(dir, "latin.json")
    java.nio.file.Files.write(f.toPath,
      """[{"id": 1, "name": "Müller"}]""".getBytes("ISO-8859-1"))
    val schema = SyntheticFixtures.writeText(new File(dir, "latin.schema.json"),
      """{"type": "array", "items": {"type": "object", "required": ["id", "name"],
        |  "properties": {"name": {"const": "Müller"}}}}""".stripMargin)
    val a = Main.parseArgs(Array(url, "latin_t", f.getPath,
      "-e", "ISO-8859-1", "-sp", schema.getPath, "-create", "-i", "INSERT"))
    assert(Main.run(spark, a) == 0)
    assert(tableRows(url, "latin_t")._2 == Seq("1|Müller"))
  }

  test("a UTF-8 BOM JSON file imports the same rows as without the BOM, with and without -sp") {
    val dir = SyntheticFixtures.dir("clibom")
    val json = """[{"id": 1, "name": "Müller"}, {"id": 2, "name": "ann"}]""".getBytes("UTF-8")
    val plain = new File(dir, "plain.json")
    java.nio.file.Files.write(plain.toPath, json)
    val bom = new File(dir, "bom.json")
    java.nio.file.Files.write(bom.toPath, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ json)
    val schema = SyntheticFixtures.writeText(new File(dir, "bom.schema.json"),
      """{"type": "array", "items": {"type": "object", "required": ["id", "name"]}}""")
    Seq(Seq.empty[String], Seq("-sp", schema.getPath)).foreach { sp =>
      def imported(f: File) = {
        val url = freshDb()
        assert(Main.run(spark, Main.parseArgs(
          Array(url, "bom_t", f.getPath, "-create", "-i", "INSERT") ++ sp)) == 0, sp)
        tableRows(url, "bom_t")
      }
      val expected = imported(plain)
      assert(expected._2 == Seq("1|Müller", "2|ann"), sp)
      assert(imported(bom) == expected, sp)
    }
  }

  test("-sp XSD pre-pass decodes the data with -e") {
    // before the pre-pass took the charset this failed with "XML data does
    // not comply to XSD …: Invalid byte 1 of 1-byte UTF-8 sequence."
    val dir = SyntheticFixtures.dir("clixsdcharset")
    val f = new File(dir, "latin.xml")
    java.nio.file.Files.write(f.toPath,
      "<list><entry><id>1</id><name>Müller</name></entry></list>".getBytes("ISO-8859-1"))
    val xsd = SyntheticFixtures.writeText(new File(dir, "latin.xsd"),
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        | <xs:element name="list"><xs:complexType><xs:sequence>
        |  <xs:element name="entry" maxOccurs="unbounded"><xs:complexType><xs:sequence>
        |   <xs:element name="id" type="xs:integer"/>
        |   <xs:element name="name" type="xs:string"/>
        |  </xs:sequence></xs:complexType></xs:element>
        | </xs:sequence></xs:complexType></xs:element>
        |</xs:schema>""".stripMargin)
    val url = freshDb()
    assert(Main.run(spark, Main.parseArgs(Array(url, "latin_t", f.getPath,
      "-e", "ISO-8859-1", "-sp", xsd.getPath, "-create", "-i", "INSERT"))) == 0)
    assert(tableRows(url, "latin_t")._2 == Seq("1|Müller"))
    // a UTF-8 byte-order mark still validates
    val bom = new File(dir, "bom.xml")
    java.nio.file.Files.write(bom.toPath, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "<list><entry><id>2</id><name>Müller</name></entry></list>".getBytes("UTF-8"))
    graft.sources.SchemaValidation.validateXsd(bom.getPath, xsd.getPath, "UTF-8")
  }

  test("a UTF-8 BOM CSV file imports the same rows and column names as without the BOM") {
    val dir = SyntheticFixtures.dir("clicsvbom")
    val csv = "id;name\n1;Müller\n2;ann\n".getBytes("UTF-8")
    val plain = new File(dir, "plain.csv")
    java.nio.file.Files.write(plain.toPath, csv)
    val bom = new File(dir, "bom.csv")
    java.nio.file.Files.write(bom.toPath, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ csv)
    def imported(f: File) = {
      val url = freshDb()
      assert(Main.run(spark, Main.parseArgs(
        Array(url, "bom_t", f.getPath, "-create", "-i", "INSERT"))) == 0)
      tableRows(url, "bom_t")
    }
    val expected = imported(plain)
    assert(expected == (Seq("ID", "NAME"), Seq("1|Müller", "2|ann")))
    assert(imported(bom) == expected)
  }

  test("a dot in a CSV header name does not fail the import") {
    // Spark read the dotted name as a struct field: [UNRESOLVED_COLUMN.WITH_SUGGESTION]
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"DOTT\" (\"C\" INTEGER)")
      st.close()
    }
    val dir = SyntheticFixtures.dir("clidot")
    val f = SyntheticFixtures.writeText(new File(dir, "dotted.csv"), "a.b;c\n1;2")
    assert(Main.run(spark, Main.parseArgs(Array(url, "dott", f.getPath))) == 0)
    assert(tableRows(url, "dott")._2 == Seq("2"))
    val withNull = SyntheticFixtures.writeText(new File(dir, "dotted_null.csv"), "a.b;c\n1;NULL")
    assert(Main.run(spark, Main.parseArgs(Array(url, "dott", withNull.getPath, "-n", "NULL"))) == 0)
    assert(tableRows(url, "dott")._2 == Seq("2", "null"))
  }

  test("a CSV readSource runs one Spark job and no SQL execution") {
    // before the one raw-line pass: 3 jobs and 4 SQL executions (head(1),
    // zipWithIndex + take(1), and the reader's own header inference)
    val f = SyntheticFixtures.writeText(new File(SyntheticFixtures.dir("clijobs"), "jobs.csv"),
      ("id;v" +: (1 to 1000).map(i => s"$i;v$i")).mkString("\n"))
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sqlExecutions.incrementAndGet()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val df = Main.readSource(spark, Main.parseArgs(Array("jdbc:x", "t", f.getPath)), f.getPath)
      assert(df.columns.toSeq == Seq("id", "v"))
      // the bus delivers in order: once the marker job arrives, so has every earlier event
      sc.setJobGroup("graft-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobGroups.contains("graft-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(jobGroups.contains("graft-marker"))
    assert(jobGroups.size - 1 == 1, jobGroups)
    assert(sqlExecutions.get == 0)
  }

  test("reference argv compatibility: case-insensitive flags, aliases, new flags") {
    // the reference matches flags with equalsIgnoreCase — so must we
    val a = Main.parseArgs(Array("jdbc:x", "tbl", "f.csv",
      "-I", "UPSERT", "-BatchBlockSize", "250", "-S", ",", "-Q", "'",
      "-qe", "\\", "-U", "-A", "-R", "-NoEscapeSequences", "-NoSingleMode",
      "-dateFormat", "dd.MM.yyyy", "-dateTimeFormat", "dd.MM.yyyy HH:mm:ss",
      "-logerrors", "-secure", "-truststore", "/tmp/ts.jks",
      "-truststorepassword", "tsp", "-deactivatefk", "-deactivatetriggers"))
    assert(a.cfg.mode == graft.operators.Merge.ImportMode.Upsert)
    assert(a.cfg.batchSize == 250 && a.sep == "," && a.quote == "'" &&
      a.quoteEscape == "\\")
    assert(!a.cfg.updateWithNull && a.allowUnderfilled && a.removeSurplusColumns)
    assert(a.noEscapeSequences && a.cfg.preventSingleFallback)
    assert(a.cfg.dateFormat.contains("dd.MM.yyyy") &&
      a.cfg.dateTimeFormat.contains("dd.MM.yyyy HH:mm:ss"))
    assert(a.logErrors && a.secure &&
      a.trustStorePath.contains("/tmp/ts.jks") &&
      a.trustStorePassword.contains("tsp"))
    assert(a.deactivateFk && a.deactivateTriggers)
    // -table/-import/-blobfile override the positional slots
    val b = Main.parseArgs(Array("jdbc:x", "ignored", "ignored",
      "-table", "real_t", "-import", "/data/real.csv"))
    assert(b.table == "real_t" && b.importPathOrData == "/data/real.csv")
    // help short-circuits without demanding positionals
    assert(Main.parseArgs(Array("-help")).help)
    assert(Main.run(spark, Main.parseArgs(Array("-h"))) == 0)
    assert(Main.run(spark, Main.parseArgs(Array("version"))) == 0)
    // ...but ONLY in first or flag position: a flag VALUE or positional
    // literally named "help"/"version" must not hijack the import
    val h = Main.parseArgs(Array("jdbc:x", "t", "data.csv", "-n", "help"))
    assert(!h.help && h.nullToken.contains("help"))
    val v = Main.parseArgs(Array("jdbc:x", "version", "help.csv"))
    assert(!v.help && !v.version && v.table == "version")
    // trailing flag-position help still works, positionals preserved
    val t = Main.parseArgs(Array("jdbc:x", "t", "data.csv", "-help"))
    assert(t.help && t.table == "t")
  }

  test("-logerrors writes the rows that failed to parse to <file>.errors") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"LE\" (\"ID\" INTEGER, \"V\" VARCHAR(10))")
      st.close()
    }
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clilogerr"), "le.csv"), "id;v\n1;ok\nx9;bad\n3;fine")
    assert(Main.run(spark, Main.parseArgs(Array(url, "le", f.getPath, "-logerrors"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "le") == 2))
    val errs = spark.read.option("header", "true").option("sep", ";")
      .csv(f.getPath + ".errors").collect()
    assert(errs.map(r => (r.getAs[String]("id"), r.getAs[String]("v"))).toSeq == Seq(("x9", "bad")))
  }

  test("-logerrors on a JSON import writes <file>.errors.json as a JSON array") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"LEJ\" (\"ID\" INTEGER, \"V\" VARCHAR(10))")
      st.close()
    }
    val f = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clilogerrjson"), "le.json"),
      """[{"id": "1", "v": "ok"}, {"id": "x9", "v": "bad"}, {"id": "3", "v": "fine"}]""")
    val out = new File(f.getPath + ".errors.json")
    out.delete() // the fixture directory outlives the run
    assert(Main.run(spark, Main.parseArgs(Array(url, "lej", f.getPath, "-logerrors"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "lej") == 2))
    assert(out.isFile)
    val text = new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8").trim
    assert(text.startsWith("[") && text.endsWith("]"))
    val errs = spark.read.option("multiLine", "true").json(out.getPath).collect()
    assert(errs.map(r => (r.getAs[String]("id"), r.getAs[String]("v"))).toSeq == Seq(("x9", "bad")))
  }

  test("-logerrors on a wildcard import writes each file's rows next to that file") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"LEG\" (\"ID\" INTEGER, \"V\" VARCHAR(10))")
      st.close()
    }
    val dir = SyntheticFixtures.dir(s"clilogerrglob_${System.nanoTime()}")
    val a = SyntheticFixtures.writeText(new File(dir, "le_a.csv"), "id;v\n1;ok\nx1;bad-a\n")
    val b = SyntheticFixtures.writeText(new File(dir, "le_b.csv"), "id;v\n2;ok\nx2;bad-b\n")
    assert(Main.run(spark, Main.parseArgs(Array(url, "leg",
      new File(dir, "le_*.csv").getPath, "-logerrors"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "leg") == 2))
    def errs(f: File) = spark.read.option("header", "true").option("sep", ";")
      .csv(f.getPath + ".errors").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("v"))).toSeq
    assert(errs(a) == Seq(("x1", "bad-a")))
    assert(errs(b) == Seq(("x2", "bad-b")))
    assert(!new File(dir, "le_*.csv.errors").exists)
  }

  test("-sp follows the resolved format, not the file extension") {
    val dir = SyntheticFixtures.dir("clispformat")
    val schema = SyntheticFixtures.writeText(new File(dir, "s.json"),
      """{"type": "array", "items": {"type": "object", "required": ["id"],
        |  "properties": {"id": {"type": "integer", "minimum": 0}}}}""".stripMargin)
    // -x JSON on a .txt file: validated, then imported
    val url = freshDb()
    val txt = SyntheticFixtures.writeText(new File(dir, "data.txt"), """[{"id": 1}, {"id": 2}]""")
    assert(Main.run(spark, Main.parseArgs(Array(url, "spfmt", txt.getPath,
      "-x", "JSON", "-sp", schema.getPath, "-create", "-i", "INSERT"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "spfmt") == 2))
    val badTxt = SyntheticFixtures.writeText(new File(dir, "bad.txt"), """[{"id": -1}]""")
    val bad = intercept[IllegalArgumentException](Main.readSource(spark,
      Main.parseArgs(Array(url, "spfmt", badTxt.getPath, "-x", "JSON", "-sp", schema.getPath)),
      badTxt.getPath))
    assert(bad.getMessage.contains("does not comply to JSON schema"))
    // -x CSV on a .json file: -sp is refused, not ignored
    val csv = SyntheticFixtures.writeText(new File(dir, "data.json"), "id;v\n1;a\n")
    val e = intercept[IllegalArgumentException](Main.run(spark, Main.parseArgs(Array(
      freshDb(), "spcsv", csv.getPath, "-x", "CSV", "-sp", schema.getPath, "-create", "-i", "INSERT"))))
    assert(e.getMessage.contains("SchemaFilePath is not supported"))
  }

  test("-mf reads the mapping from a file; -dateformat governs unpatterned DATE parses") {
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"MFD\" (\"ID\" INTEGER, \"D\" DATE)")
      st.close()
    }
    val mf = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("climf"), "map.txt"),
      "id='ident'; d='when'")
    val csv = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("climf"), "mf.csv"),
      "ident;when\n5;31.12.2025")
    // without -dateformat, "31.12.2025" only parses via the dd.MM.yyyy
    // fallback; make the global format the FIRST pattern tried
    val a = Main.parseArgs(Array(url, "mfd", csv.getPath,
      "-mf", mf.getPath, "-dateformat", "dd.MM.yyyy"))
    assert(a.cfg.mapping.contains("id='ident'; d='when'"))
    assert(Main.run(spark, a) == 0)
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "MFD")
      .load().collect()(0)
    assert(got.getInt(0) == 5 && got.getDate(1).toString == "2025-12-31")
  }

  test("-x <format> forces the DataType regardless of extension") {
    // reference -x takes the import format (DbImport.java:271-279,
    // DataType enum); -x JSON must parse a .dat file as JSON
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"XFMT\" (\"ID\" INTEGER, \"V\" VARCHAR(10))")
      st.close()
    }
    val dat = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clixfmt"), "payload.dat"),
      """[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]""")
    assert(Main.run(spark, Main.parseArgs(
      Array(url, "xfmt", dat.getPath, "-x", "JSON"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "XFMT") == 2))
    // invalid format and missing parameter both reject like the reference
    intercept[IllegalArgumentException](
      Main.parseArgs(Array(url, "t", "f", "-x", "BOGUS")))
    intercept[IllegalArgumentException](
      Main.parseArgs(Array(url, "t", "f", "-x")))
  }

  test("CSV structure strictness: field-count mismatch aborts; -a/-r relax it") {
    // reference testCsvImportErrorStructure: a joined line (surplus
    // non-empty fields) is a structure error -> exit 1, zero rows
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE \"STRICT_T\" (\"ID\" INTEGER, \"V\" VARCHAR(30))")
      st.close()
    }
    val dir = SyntheticFixtures.dir("clistrict")
    val badJoin = SyntheticFixtures.writeText(new File(dir, "joined.csv"),
      "id;v\n1;x\n2;y3;z\n")
    intercept[graft.sources.CsvSource.CsvStructureException] {
      Main.run(spark, Main.parseArgs(Array(url, "strict_t", badJoin.getPath)))
    }
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "strict_t") == 0))
    // underfilled line: error by default, accepted + null-filled with -a
    val under = SyntheticFixtures.writeText(new File(dir, "under.csv"),
      "id;v\n1;x\n2\n3;z\n")
    intercept[graft.sources.CsvSource.CsvStructureException] {
      Main.run(spark, Main.parseArgs(Array(url, "strict_t", under.getPath)))
    }
    assert(Main.run(spark, Main.parseArgs(Array(url, "strict_t", under.getPath, "-a"))) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "strict_t") == 3))
    // surplus EMPTY trailing fields: error by default, dropped with -r;
    // surplus NON-empty stays an error even with -r
    val surplus = SyntheticFixtures.writeText(new File(dir, "surplus.csv"),
      "id;v\n7;x;;\n")
    intercept[graft.sources.CsvSource.CsvStructureException] {
      Main.run(spark, Main.parseArgs(Array(url, "strict_t", surplus.getPath)))
    }
    assert(Main.run(spark, Main.parseArgs(Array(url, "strict_t", surplus.getPath, "-r"))) == 0)
    val surplusFull = SyntheticFixtures.writeText(new File(dir, "surplusfull.csv"),
      "id;v\n8;x;extra\n")
    intercept[graft.sources.CsvSource.CsvStructureException] {
      Main.run(spark, Main.parseArgs(Array(url, "strict_t", surplusFull.getPath, "-r")))
    }
    // quoted separators do not count as field boundaries
    val quoted = SyntheticFixtures.writeText(new File(dir, "quoted.csv"),
      "id;v\n9;\"a;b\"\n")
    assert(Main.run(spark, Main.parseArgs(Array(url, "strict_t", quoted.getPath))) == 0)
  }

  test("-s '||' and -s '\\t': a value holding | or \\ imports every row") {
    // the structure pass splits lines with the reader's own parser, so a
    // multi-character separator and the `\t` escape (the two characters,
    // as a shell passes them) count fields as the import does
    val dir = SyntheticFixtures.dir("clisep")
    Seq(("||", "pipes.csv", "id||v\n1||a|b\n2||c\n", Seq("1|a|b", "2|c")),
        ("\\t", "tabs.csv", "id\tv\n1\ta\\b\n2\tc\n", Seq("1|a\\b", "2|c")))
      .foreach { case (sep, name, content, want) =>
        val url = freshDb()
        val f = SyntheticFixtures.writeText(new File(dir, name), content)
        assert(Main.run(spark, Main.parseArgs(Array(url, "seps", f.getPath,
          "-s", sep, "-create", "-i", "INSERT"))) == 0, sep)
        assert(tableRows(url, "seps")._2 == want, sep)
      }
    // a real surplus field still aborts
    val joined = SyntheticFixtures.writeText(new File(dir, "joined.csv"), "id||v\n1||a||b\n")
    intercept[graft.sources.CsvSource.CsvStructureException] {
      Main.run(spark, Main.parseArgs(Array(freshDb(), "seps", joined.getPath, "-s", "||", "-create")))
    }
  }

  test("data-type errors drop the row and the run still exits 0") {
    // reference testCsvImportErrorDataType: the unparseable-double row
    // is skipped, everything else lands, exit code 0 — with NO error
    // flags given
    val url = freshDb()
    JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE \"DT_T\" (\"ID\" INTEGER, \"D\" DOUBLE)")
      st.close()
    }
    val csv = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clidt"), "dt.csv"),
      "id;d\n121;123.456\n122;123x456\n123;123.456\n")
    assert(Main.run(spark, Main.parseArgs(Array(url, "dt_t", csv.getPath))) == 0)
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "DT_T")
      .load().collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(121, 123))
  }

  test("-structure pre-pass creates missing tables before the import") {
    val url = freshDb()
    val sf = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clistruct"), "structure.json"),
      """{ "st_t": { "columns": [
        |  {"name": "id", "datatype": "Integer"},
        |  {"name": "v", "datatype": "String", "datasize": 20}]}}""".stripMargin)
    val csv = SyntheticFixtures.writeText(
      new File(SyntheticFixtures.dir("clistruct"), "st.csv"), "id;v\n1;x")
    val a = Main.parseArgs(Array(url, "st_t", csv.getPath, "-structure", sf.getPath))
    assert(Main.run(spark, a) == 0)
    JdbcSink.withConnection(url)(c => assert(JdbcSink.countRows(c, "st_t") == 1))
  }

  test("createtruststore captures a TLS endpoint's chain into a JKS file") {
    import java.security.KeyStore
    import javax.net.ssl.{KeyManagerFactory, SSLContext}
    val dir = SyntheticFixtures.dir("truststore")
    // self-signed server identity via the JDK's own keytool (offline)
    val srvKs = new File(dir, "server.p12")
    srvKs.delete()
    val keytool = new File(new File(System.getProperty("java.home"), "bin"),
      "keytool").getPath
    val gen = new ProcessBuilder(keytool, "-genkeypair", "-alias", "srv",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-dname", "CN=localhost", "-keystore", srvKs.getPath,
      "-storetype", "PKCS12", "-storepass", "changeit")
      .redirectErrorStream(true).start()
    assert(gen.waitFor() == 0, "keytool -genkeypair failed")
    // minimal TLS server presenting that certificate
    val ks = KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(srvKs)
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = ctx.getServerSocketFactory.createServerSocket(0)
    val port = server.getLocalPort
    val accepter = new Thread(() => {
      try {
        val s = server.accept()
        try s.getInputStream.read() // drives the server side of the handshake
        catch { case _: Exception => }
        finally s.close()
      } catch { case _: Exception => }
    })
    accepter.setDaemon(true)
    accepter.start()
    try {
      val out = new File(dir, "captured.jks")
      out.delete()
      val a = Main.parseArgs(Array(s"localhost:$port", out.getPath, "ts-pw",
        "createtruststore"))
      assert(a.createTrustStore)
      assert(Main.run(spark, a) == 0)
      // the captured store opens with the given password and pins the cert
      val tks = KeyStore.getInstance("JKS")
      val tin = new java.io.FileInputStream(out)
      try tks.load(tin, "ts-pw".toCharArray) finally tin.close()
      val aliases = tks.aliases()
      assert(aliases.hasMoreElements)
      val cert = tks.getCertificate(aliases.nextElement())
        .asInstanceOf[java.security.cert.X509Certificate]
      assert(cert.getSubjectX500Principal.getName.contains("CN=localhost"))
    } finally server.close()
  }

}
