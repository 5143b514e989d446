package graft.sources

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** Source readers against the reference's canonical fixtures
  * (FIXTURES.md §2-§8).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String, content: String): File =
    SyntheticFixtures.writeText(new File(SyntheticFixtures.dir("spec"), name), content)

  // The canonical Test.csv content (FIXTURES.md §2): header names with a
  // space, leading spaces in values, `;` separator.
  private val canonicalCsv =
    "column integer; column_double; column_varchar; column_clob; column_timestamp; column_date\n" +
      "123; 123.456E0; aBcDeF123; aBcDeF1234; 01.02.2003 11:12:13; 01.02.2003 21:22:23"

  test("CSV: reference dialect, no implicit trim, leading spaces survive") {
    val f = tmp("canonical.csv", canonicalCsv)
    val df = CsvSource.read(spark, f.getPath)
    assert(df.columns.toSeq == Seq("column integer", " column_double", " column_varchar",
      " column_clob", " column_timestamp", " column_date"))
    val r = df.collect()(0)
    assert(r.getString(1) == " 123.456E0") // leading space survives
  }

  test("CSV: no-headers mode names columns column_1..N") {
    val f = tmp("nohdr.csv", "1;a\n2;b")
    val df = CsvSource.read(spark, f.getPath, CsvSource.CsvOptions(header = false))
    assert(df.columns.toSeq == Seq("column_1", "column_2"))
  }

  test("CSV: null token and trim options") {
    val f = tmp("nulltok.csv", "a;b\n NULL ; x ")
    val df = CsvSource.read(spark, f.getPath,
      CsvSource.CsvOptions(trimValues = true, nullToken = Some("NULL")))
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.getString(1) == "x")
  }

  test("CSV: underfilled lines null-fill") {
    val f = tmp("under.csv", "a;b;c\n1;2;3\n4;5")
    val rows = CsvSource.read(spark, f.getPath).orderBy("a").collect()
    assert(rows(1).isNullAt(2))
  }

  test("CSV: a dot in a header name reads, with and without trim and a null token") {
    val f = tmp("dotted.csv", "a.b;c\n1;NULL")
    Seq(CsvSource.CsvOptions(), CsvSource.CsvOptions(trimValues = true),
      CsvSource.CsvOptions(nullToken = Some("NULL"))).foreach { o =>
      val df = CsvSource.read(spark, f.getPath, o)
      assert(df.columns.toSeq == Seq("a.b", "c"), o)
      val r = df.collect()(0)
      assert(r.getString(0) == "1" && r.isNullAt(1) == o.nullToken.isDefined, o)
    }
  }

  test("CSV: the schema built from the first line equals Spark's inference") {
    def bytes(s: String) = s.getBytes("UTF-8")
    val cases = Seq(
      ("plain", bytes("id;v\n1;x\n2;y\n"), CsvSource.CsvOptions()),
      ("bom", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ bytes("id;v\n1;x\n"),
        CsvSource.CsvOptions()),
      ("duplicates", bytes("a;A;a\n1;2;3\n"), CsvSource.CsvOptions()),
      ("empty names", bytes("a;;b;\n1;2;3;4\n"), CsvSource.CsvOptions()),
      ("quoted separator", bytes("\"a;b\";c\n1;2\n"), CsvSource.CsvOptions()),
      ("spaces", bytes(" id ; v \n1;2\n"), CsvSource.CsvOptions()),
      ("latin-1", "größe;k\nä;1\n".getBytes("ISO-8859-1"),
        CsvSource.CsvOptions(encoding = "ISO-8859-1")),
      ("no header", bytes("1;x\n2;y\n"), CsvSource.CsvOptions(header = false)),
      ("crlf", bytes("id;v\r\n1;x\r\n2;y\r\n"), CsvSource.CsvOptions()),
      ("null-token header", bytes("NULL;v\n1;NULL\n"),
        CsvSource.CsvOptions(nullToken = Some("NULL"))))
    cases.foreach { case (name, content, o) =>
      // the comma is part of the file name, not a list of paths
      val f = new File(SyntheticFixtures.dir("spec"), s"parity,${name.replace(' ', '_')}.csv")
      java.nio.file.Files.write(f.toPath, content)
      val firstLine = CsvSource.validateStructure(spark, f.getPath, o,
        allowUnderfilled = false, removeSurplusEmpty = false)
      assert(firstLine.isDefined, name)
      val built = CsvSource.read(spark, f.getPath, o, firstLine)
      val inferred = CsvSource.read(spark, f.getPath, o)
      assert(built.columns.toSeq == inferred.columns.toSeq, name)
      assert(built.collect().toSeq == inferred.collect().toSeq, name)
    }
  }

  test("CSV structure pass: line numbers and the earliest violation across partitions") {
    val o = CsvSource.CsvOptions()
    def check(lines: Seq[String], slices: Int, header: Boolean = true) =
      CsvSource.validateStructure(spark.sparkContext.parallelize(lines, slices),
        o.copy(header = header), allowUnderfilled = false, removeSurplusEmpty = false)
    def error(lines: Seq[String], slices: Int, header: Boolean = true) =
      intercept[CsvSource.CsvStructureException](check(lines, slices, header)).getMessage
    // slices [id;v, 1;x] [2;y, 3] [4;z, 5;z;z, 6]: lines 4, 6 and 7 violate
    val lines = Seq("id;v", "1;x", "2;y", "3", "4;z", "5;z;z", "6")
    assert(error(lines, 3) == "CSV structure error in line 4: expected 2 fields, got 1")
    assert(error(lines.take(3) ++ lines.drop(4), 3) ==
      "CSV structure error in line 5: expected 2 fields, got 3")
    assert(error(lines.patch(3, Seq("3;y"), 1), 3) ==
      "CSV structure error in line 6: expected 2 fields, got 3")
    assert(error(Seq("1;x", "2"), 2, header = false) ==
      "CSV structure error in line 2: expected 2 fields, got 1 (field count set by the first line)")
    // blank lines are skipped, empty partitions count no lines
    assert(check(Seq("id;v", "", "1;x", "", "2;y", ""), 4).contains("id;v"))
    assert(error(Seq("id;v", "", "", "1;x;y"), 6) ==
      "CSV structure error in line 4: expected 2 fields, got 3")
    // the returned line is the first one holding more than spaces
    assert(check(Seq("", "   ", "id", "1"), 3).contains("id"))
    assert(check(Seq.empty[String], 2).isEmpty)
  }

  test("JSON: array-of-flat-objects whole file") {
    val f = tmp("arr.json", """[{"a": 1, "b": "x"}, {"a": 2, "b": null}]""")
    val df = JsonSource.readArray(spark, f.getPath)
    assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("a", "b"))
  }

  test("JSON: -dp data path navigates to the nested array") {
    val f = tmp("nested.json",
      """{"meta": {"v": 1}, "payload": {"items": [{"a": 1}, {"a": 2}]}}""")
    val df = JsonSource.readArrayAt(spark, f.getPath, "payload/items")
    assert(df.select("a").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("JSON: one pass over an array with widened number columns reads the file once") {
    // a, b and c are widened to string by one row each; d stays numeric
    val rows = (1 to 1000).map(i =>
      s"""{"k": $i, "a": ${i * 1.5}, "b": ${i * 7}, "c": $i.25, "d": $i}""") ++
      Seq("""{"k": 0, "a": "1x"}""", """{"k": -1, "b": "2y"}""", """{"k": -2, "c": "3z"}""")
    val f = tmp("widened.json", rows.mkString("[", ",\n", "]"))
    val df = JsonSource.readArray(spark, f.getPath)
    assert(Seq("a", "b", "c").forall(c => df.schema(c).dataType == StringType))
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(df.collect().length == 1003)
      // listener events arrive on the bus asynchronously
      val deadline = System.nanoTime() + 5000000000L
      while (jobsEnded.get < 1 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobsEnded.get >= 1)
    assert(bytesRead.get >= f.length && bytesRead.get <= 2 * f.length,
      s"read ${bytesRead.get} bytes of a ${f.length}-byte file")
  }

  test("JSON: a number in a widened string column reads as its double or long text") {
    val f = tmp("numtext.json", """[{"k":1,"v":2.50,"w":1e3},{"k":2,"v":"x","w":"y"}]""")
    val got = JsonSource.readArray(spark, f.getPath).where("k = 1")
      .select("v", "w").as[(String, String)].collect().toSeq
    assert(got == Seq(("2.5", "1000.0")))
    // the text a pure double column gets through the string cast
    val d = tmp("numdouble.json", """[{"v":2.50,"w":1e3}]""")
    val cast = JsonSource.readArray(spark, d.getPath)
      .selectExpr("cast(v as string)", "cast(w as string)").as[(String, String)].collect().toSeq
    assert(cast == got)
  }

  test("XML: list/entry parse with null token and -dp path") {
    val xml =
      """<root><meta>x</meta><data><list>
        |<e><c1>v1</c1><c2>NULL</c2></e>
        |<e><c1>v2</c1><c2>w2</c2></e>
        |</list></data></root>""".stripMargin
    val f = tmp("dp.xml", xml)
    val df = XmlSource.read(spark, f.getPath, dataPath = Some("data/list"),
      nullToken = Some("NULL"))
    val rows = df.orderBy("c1").collect()
    assert(rows.length == 2 && rows(0).isNullAt(1) && rows(1).getString(1) == "w2")
  }

  test("XML: -dp path collects ONLY the selected list, not later siblings") {
    val xml =
      """<root><data><list>
        |<e><c1>v1</c1></e>
        |</list><audit>
        |<e><c1>not-data</c1></e>
        |</audit></data></root>""".stripMargin
    val rows = XmlSource.parseDocument(xml, Some("data/list"), None)
    // the <audit> sibling's entries must not leak into the result
    assert(rows == Seq(Map("c1" -> "v1")))
  }

  test("XML: root as list element (no -dp)") {
    val f = tmp("plain.xml",
      "<Entries><Entry><a>1</a><b>x</b></Entry><Entry><a>2</a></Entry></Entries>")
    val rows = XmlSource.read(spark, f.getPath).orderBy("a").collect()
    assert(rows.length == 2 && rows(1).isNullAt(1)) // missing tag → null
  }

  test("YAML: sequence of flat mappings; scalars stringified") {
    val f = tmp("seq.yaml", "- a: 1\n  b: \"x\"\n- a: 2\n  b:")
    val rows = YamlSource.read(spark, f.getPath).orderBy("a").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1", "2"))
    assert(rows(1).isNullAt(1))
  }

  test("YAML: non-sequence root is rejected (reference contract)") {
    intercept[IllegalArgumentException] {
      YamlSource.parseDocument("a: 1")
    }
  }

  test("vCard: N/FN/TEL/ADR flatten with quoted-printable decode") {
    val vcf =
      "BEGIN:VCARD\nVERSION:2.1\nN:Testermann;Tester;;;\nFN:Tester Testermann\n" +
        "TEL;CELL:+4947110815\n" +
        "ADR;HOME;CHARSET=UTF-8;ENCODING=QUOTED-PRINTABLE:;;=50=6F=72=67=65=73;M=C3=BCnchen;;81247;Deutschland\n" +
        "END:VCARD\n"
    val cards = VcfSource.parseCards(vcf)
    assert(cards.length == 1)
    val m = cards.head
    assert(m("firstname") == "Tester" && m("lastname") == "Testermann")
    assert(m("formatted_name") == "Tester Testermann")
    assert(m("phone_1") == "+4947110815" && m("phone_1_attr") == "CELL")
    assert(m("address_1_street") == "Porges")
    assert(m("address_1_locality") == "München")
    assert(m("address_1_country") == "Deutschland")
    assert(m("address_1_attr") == "HOME")
  }

  test("vCard: a UTF-8 byte-order mark reads the same cards as without it") {
    val card = "BEGIN:VCARD\nVERSION:3.0\nN:Ann;Hans;;;\nEND:VCARD\n".getBytes("UTF-8")
    val plain = new File(SyntheticFixtures.dir("spec"), "plain.vcf")
    java.nio.file.Files.write(plain.toPath, card)
    val bom = new File(SyntheticFixtures.dir("spec"), "bom.vcf")
    java.nio.file.Files.write(bom.toPath, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ card)
    val expected = VcfSource.read(spark, plain.getPath)
    assert(expected.count() == 1)
    val got = VcfSource.read(spark, bom.getPath)
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(got.collect().toSeq == expected.collect().toSeq)
  }

  test("vCard: QP soft line breaks join; base64 '=' padding does not") {
    val photo = java.util.Base64.getEncoder.encodeToString("pix!".getBytes) // ends '='
    val vcf =
      "BEGIN:VCARD\nVERSION:2.1\nN:Doe;Jane;;;\n" +
        "NOTE;ENCODING=QUOTED-PRINTABLE:first part=\nsecond:part\n" +
        s"PHOTO;ENCODING=b:$photo\nTEL:123\n" +
        "END:VCARD\n"
    val m = VcfSource.parseCards(vcf).head
    assert(m("note") == "first partsecond:part") // soft break joined
    assert(!m.contains("second"))                // no phantom property
    assert(m("phone_1") == "123")                // line after PHOTO intact
    assert(new String(m("photo").asInstanceOf[Array[Byte]]) == "pix!")
  }

  test("vCard: mixed string/base64 photo column coerces instead of crashing") {
    val b64 = java.util.Base64.getEncoder.encodeToString("img".getBytes)
    val vcf =
      s"BEGIN:VCARD\nN:A;B;;;\nPHOTO;ENCODING=b:$b64\nEND:VCARD\n" +
        "BEGIN:VCARD\nN:C;D;;;\nPHOTO:https://example.com/x.jpg\nEND:VCARD\n"
    val df = VcfSource.read(spark, tmp("mixed_photo.vcf", vcf).getPath)
    assert(df.schema("photo").dataType == org.apache.spark.sql.types.BinaryType)
    val vals = df.select("photo").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted
    assert(vals.toSeq == Seq("https://example.com/x.jpg", "img"))
  }

  test("vCard: base64 PHOTO decodes to a binary column") {
    val photoBytes = Array[Byte](137.toByte, 80, 78, 71, 13, 10, 26, 10, 0, 1, 2, 3)
    val b64 = java.util.Base64.getEncoder.encodeToString(photoBytes)
    val vcf =
      "BEGIN:VCARD\nVERSION:2.1\nN:Doe;Jane;;;\n" +
        s"PHOTO;ENCODING=b;TYPE=PNG:$b64\n" +
        "END:VCARD\n"
    val cards = VcfSource.parseCards(vcf)
    assert(cards.head("photo").asInstanceOf[Array[Byte]].toSeq == photoBytes.toSeq)
    val df = VcfSource.read(spark, tmp("b64_photo.vcf", vcf).getPath)
    assert(df.schema("photo").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val got = df.select("photo").head.getAs[Array[Byte]](0)
    assert(got.toSeq == photoBytes.toSeq)
  }

  test("compression: gz/zip/tar.gz/ZipCrypto round-trip byte-exact") {
    val content = "hello;world\n1;2\n"
    val base = SyntheticFixtures.dir("speccomp")
    SyntheticFixtures.writeGz(new File(base, "t.csv.gz"), content)
    SyntheticFixtures.writeZip(new File(base, "t.csv.zip"), "t.csv", content)
    SyntheticFixtures.writeTarGz(new File(base, "t.csv.tar.gz"), "t.csv", content)
    SyntheticFixtures.writeZipCrypto(new File(base, "tpw.csv.zip"), "t.csv", content, "abc123")
    SyntheticFixtures.writeZipAes256(new File(base, "taes.csv.zip"), "t.csv", content, "abc123")
    def bytes(n: String) = java.nio.file.Files.readAllBytes(new File(base, n).toPath)
    assert(new String(Compression.decompress("taes.csv.zip", bytes("taes.csv.zip"),
      Some("abc123")), "UTF-8") == content)
    intercept[IllegalArgumentException] {
      Compression.decompress("taes.csv.zip", bytes("taes.csv.zip"), Some("wrong"))
    }
    assert(new String(Compression.decompress("t.csv.gz", bytes("t.csv.gz")), "UTF-8") == content)
    assert(new String(Compression.decompress("t.csv.zip", bytes("t.csv.zip")), "UTF-8") == content)
    assert(new String(Compression.decompress("t.csv.tar.gz", bytes("t.csv.tar.gz")), "UTF-8") == content)
    assert(new String(Compression.decompress("tpw.csv.zip", bytes("tpw.csv.zip"),
      Some("abc123")), "UTF-8") == content)
  }

  test("kdbx: encrypt/decrypt round-trip, wrong password rejected, nested groups") {
    val f = new File(SyntheticFixtures.dir("kdbxspec"), "t.kdbx")
    KdbxWriter.write(f, "s3cret", Seq(
      Map("Title" -> "one", "UserName" -> "u1", "Password" -> "p1"),
      Map("Title" -> "two", "Notes" -> "hello <xml> & stuff")))
    val df = KdbxSource.read(spark, f.getPath, "s3cret")
    val rows = df.orderBy("Title").collect()
    assert(df.columns.sorted.toSeq == Seq("Notes", "Password", "Title", "UserName"))
    assert(rows(0).getAs[String]("UserName") == "u1")
    assert(rows(1).getAs[String]("Notes") == "hello <xml> & stuff")
    assert(rows(1).getAs[String]("Password") == null)
    val e = intercept[Exception] {
      KdbxSource.read(spark, f.getPath, "wrong").collect()
    }
    assert(e.getMessage.contains("password") || e.getCause != null)
  }

  test("kdbx: Salsa20-protected values decrypt through the inner stream") {
    val f = new File(SyntheticFixtures.dir("kdbxspec"), "prot.kdbx")
    KdbxWriter.write(f, "s3cret", Seq(
      Map("Title" -> "one", "Password" -> "p@ss-1"),
      Map("Title" -> "two", "Password" -> "p@ss-2", "UserName" -> "u2")),
      protectKeys = Set("Password"))
    val rows = KdbxSource.read(spark, f.getPath, "s3cret").orderBy("Title").collect()
    // two protected values share ONE continuous keystream — both must
    // decode correctly, proving stream-position bookkeeping
    assert(rows(0).getAs[String]("Password") == "p@ss-1")
    assert(rows(1).getAs[String]("Password") == "p@ss-2")
    assert(rows(1).getAs[String]("UserName") == "u2")
  }

  test("kdbx: entries in nested groups and History excluded") {
    val xml =
      """<KeePassFile><Root><Group><Name>Root</Name>
        |<Entry><String><Key>Title</Key><Value>a</Value></String>
        | <History><Entry><String><Key>Title</Key><Value>OLD</Value></String></Entry></History>
        |</Entry>
        |<Group><Name>Sub</Name>
        | <Entry><String><Key>Title</Key><Value>b</Value></String></Entry>
        |</Group>
        |</Group></Root></KeePassFile>""".stripMargin
    val got = KdbxSource.parseEntries(xml).map(_("Title"))
    assert(got == Seq("a", "b"))
  }

  test("xls (BIFF8): CFB container + record stream round-trip with numbers") {
    val rows = Seq(Seq("name", "qty", "price"), Seq("alpha", "3", "1.5"),
      Seq("beta", null, "2.25"))
    val f = new File(SyntheticFixtures.dir("xlsspec"), "t.xls")
    SyntheticFixtures.writeXls(f, "SheetOne", rows)
    val df = XlsSource.read(spark, f.getPath, sheetName = Some("SheetOne"))
    assert(df.columns.toSeq == Seq("name", "qty", "price"))
    val got = df.orderBy("name").collect()
    assert(got(0).getString(0) == "alpha" && got(0).getString(1) == "3" &&
      got(0).getString(2) == "1.5")
    assert(got(1).isNullAt(1) && got(1).getString(2) == "2.25")
    intercept[Exception] {
      XlsSource.read(spark, f.getPath, sheetName = Some("nope")).collect()
    }
  }

  test("xls (BIFF8): standard-RC4 encrypted workbook round-trips with password") {
    val rows = Seq(Seq("name", "qty"), Seq("alpha", "3"), Seq("beta", "42"),
      // > 1024 bytes of records forces at least one RC4 block rekey
      Seq("g" * 600, "1"), Seq("h" * 600, "2"))
    val f = new File(SyntheticFixtures.dir("xlsspec"), "enc.xls")
    SyntheticFixtures.writeXls(f, "Secret", rows, password = Some("abc123"))
    val df = XlsSource.read(spark, f.getPath, sheetName = Some("Secret"),
      password = Some("abc123"))
    assert(df.columns.toSeq == Seq("name", "qty"))
    val got = df.orderBy("name").collect()
    assert(got.map(_.getString(0)).toSeq ==
      Seq("alpha", "beta", "g" * 600, "h" * 600))
    assert(got.map(_.getString(1)).toSeq == Seq("3", "42", "1", "2"))
    // wrong password and missing password both refuse
    val wrong = intercept[Exception] {
      XlsSource.read(spark, f.getPath, password = Some("nope")).collect()
    }
    assert(wrong.getMessage.contains("wrong .xls password"))
    val missing = intercept[Exception] {
      XlsSource.read(spark, f.getPath).collect()
    }
    assert(missing.getMessage.contains("password required"))
  }

  test("xls (BIFF8): RC4 CryptoAPI (128- and 40-bit) workbooks round-trip") {
    for ((enc, pw) <- Seq(("cryptoapi", "capi-pw"), ("cryptoapi40", "old40"))) {
      val rows = Seq(Seq("name", "qty"), Seq("alpha", "3"),
        // > 1024 bytes of records forces at least one SHA1 block rekey
        Seq("j" * 700, "1"), Seq("k" * 700, "2"))
      val f = new File(SyntheticFixtures.dir("xlsspec"), s"$enc.xls")
      SyntheticFixtures.writeXls(f, "Capi", rows, password = Some(pw),
        encryption = enc)
      val df = XlsSource.read(spark, f.getPath, sheetName = Some("Capi"),
        password = Some(pw))
      val got = df.orderBy("name").collect()
      assert(got.map(_.getString(0)).toSeq == Seq("alpha", "j" * 700, "k" * 700))
      assert(got.map(_.getString(1)).toSeq == Seq("3", "1", "2"))
      val wrong = intercept[Exception] {
        XlsSource.read(spark, f.getPath, password = Some("nope")).collect()
      }
      assert(wrong.getMessage.contains("wrong .xls password"))
    }
  }

  test("xls (BIFF8): XOR-obfuscated workbook round-trips; derivations are stable") {
    val rows = Seq(Seq("name", "qty"), Seq("alpha", "3"), Seq("beta", "42"))
    val f = new File(SyntheticFixtures.dir("xlsspec"), "xor.xls")
    SyntheticFixtures.writeXls(f, "XorSheet", rows, password = Some("VelvetSweatshop"),
      encryption = "xor")
    val df = XlsSource.read(spark, f.getPath, sheetName = Some("XorSheet"),
      password = Some("VelvetSweatshop"))
    val got = df.orderBy("name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    assert(got.map(_.getString(1)).toSeq == Seq("3", "42"))
    val wrong = intercept[Exception] {
      XlsSource.read(spark, f.getPath, password = Some("nope")).collect()
    }
    assert(wrong.getMessage.contains("wrong .xls password"))
    // derivation pins: deterministic, password-sensitive, 16-bit range
    val k = XlsXor.createKey("abc")
    val v = XlsXor.createVerifier("abc")
    assert(k == XlsXor.createKey("abc") && v == XlsXor.createVerifier("abc"))
    assert(k != XlsXor.createKey("abd") || v != XlsXor.createVerifier("abd"))
    assert((k & ~0xffff) == 0 && (v & ~0xffff) == 0)
    val arr = XlsXor.createXorArray("abc")
    assert(arr.length == 16 && arr.toSeq == XlsXor.createXorArray("abc").toSeq)
    // byte transform is a true inverse pair at every index value
    for (b <- 0 to 255; key <- Seq(0x00, 0x5A, 0xFF))
      assert(XlsXor.decryptByte(XlsXor.encryptByte(b, key), key) == b)
  }

  test("xls encryption variants: randomized rows/passwords round-trip") {
    // fixed seed — deterministic trials across all four protections,
    // random-ish passwords (1..15 chars, the XOR limit) and cell mixes
    val rnd = new scala.util.Random(20260813L)
    def randCell(): String =
      if (rnd.nextBoolean()) (1 + rnd.nextInt(9999)).toString
      else (1 to 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    for (enc <- Seq("rc4", "cryptoapi", "cryptoapi40", "xor"); trial <- 1 to 4) {
      val pw = (1 to 1 + rnd.nextInt(14)).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
      val data = (1 to 1 + rnd.nextInt(6)).map(_ => Seq(randCell(), randCell(), randCell()))
      val rows = Seq(Seq("h1", "h2", "h3")) ++ data
      val f = new File(SyntheticFixtures.dir("xlsprop"), s"prop_${enc}_$trial.xls")
      SyntheticFixtures.writeXls(f, "s", rows, password = Some(pw), encryption = enc)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val (hdr, got) = XlsSource.parseWorkbook(bytes, Some("s"), true, Some(pw))
      assert(hdr == IndexedSeq("h1", "h2", "h3"), s"$enc/$trial headers")
      assert(got.map(_.toSeq) == data.map(_.toSeq), s"$enc/$trial rows (pw=$pw)")
    }
  }

  test("xls (BIFF8): date-XF numeric cells convert to ISO strings") {
    // hand-built workbook stream: XF 0 = general, XF 1 = builtin date 14
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
    def rec(id: Int, body: Array[Byte]): Unit = { w16(id); w16(body.length); bos.write(body) }
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)
    def le32(v: Long) = (0 until 4).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
    def num(row: Int, c: Int, xf: Int, d: Double) = {
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array()
      le16(row) ++ le16(c) ++ le16(xf) ++ b
    }
    rec(0x0809, le16(0x0600) ++ le16(0x0005) ++ new Array[Byte](12))
    rec(0x00E0, le16(0) ++ le16(0) ++ new Array[Byte](16)) // XF 0: general
    rec(0x00E0, le16(0) ++ le16(14) ++ new Array[Byte](16)) // XF 1: date
    val bsAt = bos.size()
    rec(0x0085, le32(0L) ++ le16(0) ++ Array[Byte](1, 0, 'S'))
    rec(0x000A, Array.empty)
    val sheetAt = bos.size()
    rec(0x0809, le16(0x0600) ++ le16(0x0010) ++ new Array[Byte](12))
    rec(0x0203, num(0, 0, 0, 37622.5))
    rec(0x0203, num(0, 1, 1, 37622.0))
    rec(0x000A, Array.empty)
    val wb = bos.toByteArray
    System.arraycopy(le32(sheetAt.toLong), 0, wb, bsAt + 4, 4)
    val cells = XlsSource.parseWorkbookStream(wb).head._2
    assert(cells.toSet == Set((0, 0, "37622.5"), (0, 1, "2003-01-01")))
  }

  test("xls (BIFF8): SST spanning CONTINUE records, width switch mid-string") {
    // hand-built workbook stream: SST whose second string's characters
    // cross into a CONTINUE record and switch compressed → wide there
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
    def rec(id: Int, body: Array[Byte]): Unit = { w16(id); w16(body.length); bos.write(body) }
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)
    def le32(v: Long) = (0 until 4).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
    rec(0x0809, le16(0x0600) ++ le16(0x0005) ++ new Array[Byte](12))
    val bsAt = bos.size()
    rec(0x0085, le32(0L) ++ le16(0) ++ Array[Byte](1, 0, 'S'))
    // SST record: cstTotal=3, cstUnique=3; "alpha" complete; "split..."
    // has 10 chars but only 4 fit in this record
    val s1 = "alpha".getBytes("ISO-8859-1")
    val sstBody = le32(3L) ++ le32(3L) ++
      le16(s1.length) ++ Array[Byte](0) ++ s1 ++
      le16(10) ++ Array[Byte](0) ++ "spli".getBytes("ISO-8859-1")
    rec(0x00FC, sstBody)
    // CONTINUE: fresh flags byte (wide=1), remaining 6 chars in UTF-16LE,
    // then the third string "tail" entirely inside the continuation
    val rest = "t-rest".getBytes("UTF-16LE")
    val s3 = "tail".getBytes("ISO-8859-1")
    rec(0x003C, Array[Byte](1) ++ rest ++ le16(s3.length) ++ Array[Byte](0) ++ s3)
    rec(0x000A, Array.empty)
    val sheetAt = bos.size()
    rec(0x0809, le16(0x0600) ++ le16(0x0010) ++ new Array[Byte](12))
    def labelSst(row: Int, c: Int, isst: Long) = le16(row) ++ le16(c) ++ le16(0) ++ le32(isst)
    rec(0x00FD, labelSst(0, 0, 0))
    rec(0x00FD, labelSst(0, 1, 1))
    rec(0x00FD, labelSst(0, 2, 2))
    rec(0x000A, Array.empty)
    val wb = bos.toByteArray
    System.arraycopy(le32(sheetAt.toLong), 0, wb, bsAt + 4, 4)
    val cells = XlsSource.parseWorkbookStream(wb).head._2
    assert(cells.toSet == Set((0, 0, "alpha"), (0, 1, "split-rest"), (0, 2, "tail")))
  }

  test("table name derivation pinned by the reference unit test") {
    assert(TableNames.deriveTableName("some_additional text(test_tbl).csv") == "test_tbl")
    assert(TableNames.deriveTableName("/x/y/test2_tbl.csv") == "test2_tbl")
    assert(TableNames.deriveTableName("data.csv.gz") == "data")
    assert(TableNames.deriveTableName("archive.csv.tar.gz") == "archive")
  }

  test("BLAKE2b pinned to the RFC 7693 'abc' vector") {
    val got = Kdbx4Crypto.blake2b(64, "abc".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(got ==
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d1" +
      "7d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
  }

  test("ChaCha20 pinned to the RFC 8439 block-function vector") {
    val key = Array.tabulate[Byte](32)(_.toByte)
    val nonce = Array[Byte](0, 0, 0, 9, 0, 0, 0, 0x4a, 0, 0, 0, 0)
    val ks = Kdbx4Crypto.chaCha20(key, nonce, counter = 1)
      .doFinal(new Array[Byte](16)).map(b => f"$b%02x").mkString
    assert(ks == "10f1e7e4d13b5915500fdd1fa32071c4")
  }

  test("Argon2 pinned to the RFC 9106 test vectors") {
    val pwd = Array.fill[Byte](32)(1)
    val salt = Array.fill[Byte](16)(2)
    val secret = Array.fill[Byte](8)(3)
    val ad = Array.fill[Byte](12)(4)
    def run(variant: Int) =
      Kdbx4Crypto.argon2(variant, pwd, salt, parallelism = 4, memoryKib = 32,
        iterations = 3, outLen = 32, version = 0x13, secret = secret, ad = ad)
        .map(b => f"$b%02x").mkString
    assert(run(Kdbx4Crypto.Argon2Type.D) ==
      "512b391b6f1162975371d30919734294f868e3be3984f3c1a13a4db9fabe4acb")
    assert(run(Kdbx4Crypto.Argon2Type.I) ==
      "c814d9d1dc7f37aa13f0d77f2494bda1c8de6b016dd388d29952a4c4672b6ce8")
    assert(run(Kdbx4Crypto.Argon2Type.Id) ==
      "0d640df58d78766c08c037a34a8b53c9d01ef0452d75b65eb52520e96b01e659")
  }

  test("kdbx4: Argon2id + ChaCha20 round-trip with protected values") {
    val f = new File(SyntheticFixtures.dir("kdbx4"), "vault4.kdbx")
    KdbxWriter.write4(f, "s3cret", Seq(
      Map("Title" -> "alpha", "UserName" -> "ann", "Password" -> "p1"),
      Map("Title" -> "beta", "UserName" -> "bob", "Password" -> "p2")),
      protectKeys = Set("Password"))
    val df = KdbxSource.read(spark, f.getPath, "s3cret")
      .orderBy("Title").select("Title", "UserName", "Password")
      .as[(String, String, String)].collect().toSeq
    assert(df == Seq(("alpha", "ann", "p1"), ("beta", "bob", "p2")))
    val bad = intercept[Exception](
      KdbxSource.decryptXml(java.nio.file.Files.readAllBytes(f.toPath), "wrong"))
    assert(bad.getMessage.contains("wrong kdbx password"))
  }

  test("kdbx4: Argon2d variant also round-trips") {
    val f = new File(SyntheticFixtures.dir("kdbx4"), "vault4d.kdbx")
    KdbxWriter.write4(f, "pw-d", Seq(Map("Title" -> "gamma", "Note" -> "n&<x>")),
      argon2Variant = Kdbx4Crypto.Argon2Type.D)
    val (xml, inner) = KdbxSource.decryptXmlWithStream(
      java.nio.file.Files.readAllBytes(f.toPath), "pw-d")
    val rows = KdbxSource.parseEntries(xml, inner)
    assert(rows == Seq(Map("Title" -> "gamma", "Note" -> "n&<x>")))
  }

  test("kdbx4: payload spanning multiple HMAC blocks round-trips") {
    // real KeePass writes 1 MiB HMAC blocks; a 64-byte block size forces
    // the reader's block loop past index 0 (and each block gets its own
    // SHA512(LE64(i) || key) MAC, so index handling is exercised too)
    val f = new File(SyntheticFixtures.dir("kdbx4"), "vault4mb.kdbx")
    val entries = (1 to 20).map(i =>
      Map("Title" -> s"entry$i", "UserName" -> s"user-$i-${"x" * 30}"))
    KdbxWriter.write4(f, "pw-mb", entries, blockSize = 64)
    // the encrypted payload must actually exceed one block
    assert(f.length() > 64 + 36 + 36)
    val df = KdbxSource.read(spark, f.getPath, "pw-mb")
      .orderBy("Title").select("Title").as[String].collect().toSeq
    assert(df == entries.map(_("Title")).sorted)
  }

  test("erroneous rows re-export as parseable JSON and XML") {
    import org.apache.spark.sql.functions.col
    import graft.api.Validation
    val df = Seq(("1", "a@x.com"), ("x", "b&c <bad>"), ("3", "not-mail"))
      .toDF("id", "email")
    val v = Validation.validate(df, Seq(
      "invalid integer" -> col("id").rlike("^\\d+$").unary_!,
      "invalid email" -> graft.functions.Transforms.emailValid(col("email")).unary_!))
    assert(v.errors.count() == 2)
    val base = SyntheticFixtures.dir("errfmt")
    val jsonF = new File(base, "rows.errors.json")
    Validation.exportErrorsJson(v.errors, jsonF.getPath)
    val backJ = graft.sources.JsonSource.readArray(spark, jsonF.getPath)
      .orderBy("id").select("id", "email", "error_reason")
      .as[(String, String, String)].collect().toSeq
    assert(backJ == Seq(("3", "not-mail", "invalid email"),
      ("x", "b&c <bad>", "invalid integer")))
    val xmlF = new File(base, "rows.errors.xml")
    Validation.exportErrorsXml(v.errors, xmlF.getPath)
    val backX = graft.sources.XmlSource.read(spark, xmlF.getPath)
      .orderBy("id").select("id", "email", "error_reason")
      .as[(String, String, String)].collect().toSeq
    assert(backX == backJ)
  }

  test("glob expansion sorts file names") {
    val base = SyntheticFixtures.dir("specglob")
    SyntheticFixtures.writeText(new File(base, "b_tbl.csv"), "x")
    SyntheticFixtures.writeText(new File(base, "a_tbl.csv"), "x")
    val got = TableNames.expandGlob(new File(base, "*_tbl.csv").getPath)
    assert(got.map(new File(_).getName) == Seq("a_tbl.csv", "b_tbl.csv"))
  }
}
