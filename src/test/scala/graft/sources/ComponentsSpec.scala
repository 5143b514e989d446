package graft.sources

import java.io.File

import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec
import graft.schema.StructureFile
import graft.sink.{ConnectionTest, JdbcSink}

/** Structure file, connection test, bucketed staging and
  * spreadsheet parsers.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private var dbN = 100
  private def freshDb(): String = { dbN += 1; s"jdbc:derby:memory:compdb$dbN;create=true" }

  test("structure file: parse, create, and column sync") {
    val url = freshDb()
    val json =
      """{ "t_struct": {
        |    "columns": [
        |      {"name": "column_integer", "datatype": "Integer"},
        |      {"name": "column_varchar", "datatype": "String", "datasize": 42}
        |    ],
        |    "keycolumns": ["column_integer"] } }""".stripMargin
    val defs = StructureFile.parse(json)
    assert(defs.head.columns.map(_.name) == Seq("column_integer", "column_varchar"))
    val (created, added) = StructureFile.sync(url, defs)
    assert(created == Seq("t_struct") && added.isEmpty)
    // second sync with an extra column → ALTER ADD
    val json2 = json.replace(
      """{"name": "column_varchar", "datatype": "String", "datasize": 42}""",
      """{"name": "column_varchar", "datatype": "String", "datasize": 42},
        |      {"name": "column_new", "datatype": "Double"}""".stripMargin)
    val (c2, a2) = StructureFile.sync(url, StructureFile.parse(json2))
    assert(c2.isEmpty && a2 == Seq(("t_struct", "column_new")))
    val meta = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "T_STRUCT").load().schema
    assert(meta.fieldNames.toSeq == Seq("COLUMN_INTEGER", "COLUMN_VARCHAR", "COLUMN_NEW"))
  }

  test("bucketed staging: equi-join of co-bucketed tables runs without a shuffle") {
    import graft.sink.BucketedStore
    spark.sql("DROP TABLE IF EXISTS b_target")
    spark.sql("DROP TABLE IF EXISTS b_staged")
    // a fresh in-memory metastore can orphan old warehouse dirs
    Seq("b_target", "b_staged").foreach { t =>
      val d = new File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (d.exists()) {
        def rm(f: File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(d)
      }
    }
    val target = spark.range(0, 10000).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.col("k") * 2)
    val staged = spark.range(0, 1000).toDF("k")
      .withColumn("w", org.apache.spark.sql.functions.col("k") + 1)
    BucketedStore.writeBucketed(target, "b_target", Seq("k"), 8)
    BucketedStore.writeBucketed(staged, "b_staged", Seq("k"), 8)
    val joined = BucketedStore.read(spark, "b_target")
      .join(BucketedStore.read(spark, "b_staged"), "k")
    // co-located: no hash-exchange in the physical plan
    assert(!BucketedStore.hasShuffle(joined))
    assert(joined.count() == 1000)
    // contrast: the same join forced to sort-merge over unbucketed data
    // must hash-shuffle both sides
    val smj = target.hint("merge").join(staged.hint("merge"), "k")
    assert(BucketedStore.hasShuffle(smj))
  }

  test("bucket pruning: an equality filter on the bucket key reads one bucket of eight") {
    import graft.sink.BucketedStore
    // b_target was written bucketed on k by the co-location test; make
    // this test self-sufficient if run alone
    if (!spark.catalog.tableExists("b_target")) {
      val target = spark.range(0, 10000).toDF("k")
        .withColumn("v", org.apache.spark.sql.functions.col("k") * 2)
      BucketedStore.writeBucketed(target, "b_target", Seq("k"), 8)
    }
    // the planner's DisableUnnecessaryBucketedScan rule turns OFF the
    // bucketed read for a bare filter ("Bucketed: false (disabled by
    // query planner)") because no join/agg needs the distribution —
    // hold it on to observe the point-lookup pruning path
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pruned = BucketedStore.read(spark, "b_target")
        .filter(org.apache.spark.sql.functions.col("k") === 42L)
      val scanLine = pruned.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("SelectedBucketsCount"))
        .getOrElse(fail("no SelectedBucketsCount in the bucketed scan"))
      assert(scanLine.contains("SelectedBucketsCount: 1 out of 8"), scanLine)
      assert(pruned.count() == 1)
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // one hot key owning ~95% of the left side: the classic shape that
    // stalls a 100 TB join on one straggler task. With AQE's skew-join
    // thresholds scaled to test size, OptimizeSkewedJoin must split
    // the hot partition — visible as `skew=true` on the SMJ node. This
    // pins the runtime half of the skew story (q41 pins the manual
    // salting half).
    val keys = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.keys.map(k =>
      k -> spark.conf.getOption(k)).toMap
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 400000)
        .select(when(col("id") % 20 =!= 0, lit(0L))
          .otherwise(col("id") % 50 + 1).as("k"),
          // incompressible payload: the hot partition's shuffle BYTES
          // (post-compression) are what skew detection measures
          org.apache.spark.sql.functions.md5(col("id").cast("string"))
            .as("lv"))
      val right = spark.range(0, 51).select(col("id").as("k"))
      val joined = left.join(right, "k").select(col("k"), col("lv"))
      // collect() runs THIS dataset's own query execution, so the
      // adaptive plan below is the final, post-reoptimization one
      // (count() would build and run a separate execution)
      assert(joined.collect().length === 400000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split SMJ in:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q231: the bucketed join itself plans shuffle-free (one exchange total, for the final agg)") {
    val df = graft.SparkEntry.queries("q231_bucketed_join")(
      spark, "/root/testdata/sf0.001")
    // both join inputs are bucketed on the key, so the ONLY
    // hash-exchange in the plan is the post-join groupBy(p_brand);
    // the join sides read co-located buckets directly.
    val plan = df.queryExecution.executedPlan.toString
    val nHashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHashEx == 1, s"expected 1 hash exchange (final agg), got $nHashEx:\n$plan")
  }

  test("q232: the event_type filter prunes at the partition layout, not per-row") {
    val df = graft.SparkEntry.queries("q232_partition_pruned")(
      spark, "/root/testdata/sf0.001")
    df.collect() // materialize so AQE finalizes its inner plan
    // the scan hides below AdaptiveSparkPlanExec / QueryStageExec
    // leaves — walk through them
    def findScan(p: org.apache.spark.sql.execution.SparkPlan):
        Option[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Some(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(q.plan)
      case other => other.children.view.flatMap(findScan).headOption
    }
    val scan = findScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in q232's plan"))
    // the filter must reach the directory layout: a PartitionFilters
    // entry on event_type, and the scan selects exactly the one
    // matching partition directory (not all five)
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"no event_type partition filter on the scan: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("SparkSessionExtensions injection wires simhash32 into a session") {
    // the builder path (an existing active session would be returned
    // as-is by getOrCreate, so drive the injection directly)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext) // must not throw
    // end-to-end SQL evaluation via the same registration the extension
    // performs:
    graft.plans.SimHash32Expr.register(spark)
    val h = spark.sql("SELECT simhash32(array('a', 'b')) AS h").collect()(0).getLong(0)
    val h2 = spark.sql("SELECT simhash32(array('a', 'b')) AS h").collect()(0).getLong(0)
    assert(h == h2 && h != 0L)
    graft.plans.CosineSimExpr.register(spark)
    val c = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE))," +
        " array(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE))) AS c")
      .collect()(0).getDouble(0)
    assert(c === 1.0)
    graft.plans.ShinglesExpr.register(spark)
    val sh = spark.sql("SELECT shingles(array('a', 'b', 'c'), 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("a b", "b c"))
  }

  test("connection test: iterations with check statement") {
    val url = freshDb()
    JdbcSink.withConnection(url)(_ => ()) // create db
    val ok = ConnectionTest.run(url, iterations = 3,
      checkStatement = Some("VALUES 1"))
    assert(ok.forall(_.ok) && ok.length == 3)
    val bad = ConnectionTest.run("jdbc:derby:memory:doesnotexist", iterations = 1)
    assert(!bad.head.ok && bad.head.error.nonEmpty)
  }

  test("xlsx parser: shared strings, cell refs, blank cells, sheet select") {
    // hand-written workbook exercising shared strings (the writer only
    // emits inline strings, so this part is independent coverage)
    assert(XlsxSource.colIndex("A1") == 0)
    assert(XlsxSource.colIndex("BC12") == 54)
    val rows = Seq(Seq("h1", "h2"), Seq("v1", null), Seq("v2", "w2"))
    val f = SyntheticFixtures.writeXlsx(
      new File(SyntheticFixtures.dir("xlsxspec"), "t.xlsx"), "sheetA", rows)
    val df = XlsxSource.read(spark, f.getPath, sheetName = Some("sheetA"))
    assert(df.columns.toSeq == Seq("h1", "h2"))
    val got = df.orderBy("h1").collect()
    assert(got(0).isNullAt(1) && got(1).getString(1) == "w2")
    intercept[Exception] {
      XlsxSource.read(spark, f.getPath, sheetName = Some("nope")).collect()
    }
  }

  test("xlsx parser converts date-styled numeric cells to ISO (typed dates)") {
    // hand-built workbook: styles.xml declares xf 0 = general, xf 1 =
    // builtin date fmt 14; the sheet has one general and one date cell
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val f = new File(SyntheticFixtures.dir("xlsxdate"), "d.xlsx")
    val out = new ZipOutputStream(new java.io.FileOutputStream(f))
    def put(n: String, c: String): Unit = {
      out.putNextEntry(new ZipEntry(n)); out.write(c.getBytes("UTF-8")); out.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="x" xmlns:r="y"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/styles.xml",
      """<styleSheet><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>num</t></is></c><c r="B1" t="inlineStr"><is><t>d</t></is></c></row>
        |<row r="2"><c r="A2" s="0"><v>37622.5</v></c><c r="B2" s="1"><v>37622</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    out.close()
    val r = XlsxSource.read(spark, f.getPath).collect()(0)
    assert(r.getString(0) == "37622.5") // general style stays numeric
    assert(r.getString(1) == "2003-01-01") // date style → ISO
    assert(XlsxSource.serialToIso(37622.5) == "2003-01-01 12:00")
    // the phantom 1900-02-29 (serial 60): serials BEFORE it must not
    // shift a day — 1 = Jan 1, 59 = Feb 28; 61 = Mar 1
    assert(XlsxSource.serialToIso(1.0) == "1900-01-01")
    assert(XlsxSource.serialToIso(59.0) == "1900-02-28")
    assert(XlsxSource.serialToIso(61.0) == "1900-03-01")
  }

  test("xlsx parser points legacy BIFF .xls at the native XlsSource") {
    val biff = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte)
    val e = intercept[Exception] {
      XlsxSource.parseWorkbook(biff, None, header = true)
    }
    assert(e.getMessage.contains("XlsSource"))
  }

  test("ods parser: typed cells, repeated columns, sheet select") {
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<office:document-content
        | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="first"><table:table-row>
        | <table:table-cell office:value-type="string"><text:p>skip</text:p></table:table-cell>
        |</table:table-row></table:table>
        |<table:table table:name="data">
        |<table:table-row>
        | <table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        | <table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell>
        | <table:table-cell office:value-type="string"><text:p>c</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        | <table:table-cell office:value-type="float" office:value="1.5"><text:p>1,50</text:p></table:table-cell>
        | <table:table-cell office:value-type="date" office:date-value="2003-02-01"><text:p>01.02.03</text:p></table:table-cell>
        | <table:table-cell office:value-type="string" table:number-columns-repeated="1"><text:p>x</text:p></table:table-cell>
        |</table:table-row>
        |</table:table>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val f = new File(SyntheticFixtures.dir("odsspec"), "t.ods")
    val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    out.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    out.write(content.getBytes("UTF-8")); out.closeEntry(); out.close()
    val df = OdsSource.read(spark, f.getPath, sheetName = Some("data"))
    val r = df.collect()(0)
    // typed cells surface the office value attributes, not display text
    assert(r.getString(0) == "1.5" && r.getString(1) == "2003-02-01" && r.getString(2) == "x")
  }

  test("ods parser: covered cells hold grid positions; rows-repeated expands") {
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<office:document-content
        | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="s">
        |<table:table-row>
        | <table:table-cell><text:p>h1</text:p></table:table-cell>
        | <table:table-cell><text:p>h2</text:p></table:table-cell>
        | <table:table-cell><text:p>h3</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        | <table:table-cell table:number-columns-spanned="2" office:value="1"/>
        | <table:covered-table-cell/>
        | <table:table-cell office:value="2"/>
        |</table:table-row>
        |<table:table-row table:number-rows-repeated="3">
        | <table:table-cell office:value="9"/>
        | <table:table-cell office:value="9"/>
        | <table:table-cell office:value="9"/>
        |</table:table-row>
        |</table:table>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val f = new File(SyntheticFixtures.dir("odscov"), "m.ods")
    val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    out.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    out.write(content.getBytes("UTF-8")); out.closeEntry(); out.close()
    val rows = OdsSource.read(spark, f.getPath).collect()
    // merged row: value 2 lands in column h3, NOT h2
    val mergedRow = rows.find(_.getString(0) == "1").get
    assert(mergedRow.isNullAt(1) && mergedRow.getString(2) == "2")
    // rows-repeated=3 expands to three data rows
    assert(rows.count(r => r.getString(0) == "9") == 3)
  }

  test("xls RK decoding: negative integers sign-extend") {
    // -1 as RK int: bits (-1 << 2) | 2, as unsigned u32
    assert(XlsSource.decodeRk(((-1 << 2) | 2).toLong & 0xFFFFFFFFL) == "-1")
    assert(XlsSource.decodeRk(((42 << 2) | 2).toLong) == "42")
    // -12.5 stored as int -1250 with div-100 flag
    assert(XlsSource.decodeRk(((-1250 << 2) | 3).toLong & 0xFFFFFFFFL) == "-12.5")
  }

  test("decimal formats parse into integral targets via double truncation") {
    val df = Seq(("1,234.56", "12.00", "9223372036854775807")).toDF("a", "b", "c")
    val r = df.select(
      graft.functions.Transforms.parseDecimalDot(org.apache.spark.sql.functions.col("a"), "int").as("a"),
      graft.functions.Transforms.parseDecimalDot(org.apache.spark.sql.functions.col("b"), "bigint").as("b"),
      // a pure-integer bigint beyond double precision must stay exact
      graft.functions.Transforms.parseDecimalDot(org.apache.spark.sql.functions.col("c"), "bigint").as("c")).collect()(0)
    assert(r.getInt(0) == 1234 && r.getLong(1) == 12L)
    assert(r.getLong(2) == 9223372036854775807L)
  }

  test("type inference survives an empty (0-row) frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("`No.` STRING, b STRING"))
    val st = graft.schema.TypeLattice.stats(empty, Seq("No.", "b"))
    assert(st.forall(_.nonEmpty == 0L)) // and dotted names resolve
  }
}
