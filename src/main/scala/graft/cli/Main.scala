package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{Importer, MultiImporter}
import graft.operators.Merge.{DuplicateMode, ImportMode}
import graft.sources._

/** Argv-compatible CLI surface (reference DbImport.java:264-743, SURVEY
  * §3.1): `graft.cli.Main <jdbcUrl> <table> <importFile> [flags]` with
  * the reference's main flags. A user of the reference's CLI keeps the
  * same mental model; connection arguments collapse to one JDBC URL.
  *
  * Flags (matched case-insensitively like the reference): -i <mode>
  * -d <dupmode> -k <keys,..> -m <mapping> -mf <mappingfile> -create -t
  * -u -n <nulltoken> -c -x <format> (explicit DataType; SQL = script
  * worker) -data (inline) -s/-sep <c>
  * -q/-quote <c> -qe <c> -a -r -noescapesequences -noheaders
  * -nosinglemode -zippassword <pw> -dp <path> -idtz <tz> -dbtz <tz>
  * -dateformat <f> -datetimeformat <f> -structure <file> -logerrors
  * -deactivatefk -deactivatetriggers -table <t> -import <f>
  * -secure -truststore <file> -truststorepassword <pw>
  * -analyse -sp <schemafile> (JSON-schema/XSD pre-pass), plus the
  * `importblob` mode with -updatesql/-blobfile (single file → BLOB
  * column, reference DbImport.java:234-235,834) and the
  * `createtruststore` mode (<host[:port]> <truststoreFile>
  * <password|''> createtruststore, reference DbImport.java:745-746).
  */
object Main {

  case class Args(url: String, table: String, importPathOrData: String,
                  cfg: Importer.ImportConfig, inline: Boolean = false,
                  /** Explicit import format from `-x <format>` (reference
                    * DataType, DbImport.java:271-279): overrides the
                    * extension sniff; `-x SQL` selects the SQL-script
                    * worker.
                    */
                  dataType: Option[String] = None,
                  analyse: Boolean = false,
                  sep: String = ";", quote: String = "\"", headers: Boolean = true,
                  quoteEscape: String = "\"",
                  nullToken: Option[String] = None, zipPassword: Option[String] = None,
                  dataPath: Option[String] = None, schemaFile: Option[String] = None,
                  blobImport: Boolean = false, updateSql: Option[String] = None,
                  kdbxPassword: Option[String] = None,
                  connectionTest: Boolean = false, iterations: Int = 1,
                  sleepSeconds: Int = 0, checkSql: Option[String] = None,
                  createTrustStore: Boolean = false,
                  encoding: String = "UTF-8", verbose: Boolean = false,
                  logToFile: Boolean = false,
                  structureFile: Option[String] = None,
                  /** `-logerrors` (reference logErroneousData): export
                    * the erroneous rows next to the import file.
                    */
                  logErrors: Boolean = false,
                  secure: Boolean = false,
                  trustStorePath: Option[String] = None,
                  trustStorePassword: Option[String] = None,
                  deactivateFk: Boolean = false, deactivateTriggers: Boolean = false,
                  /** Reference CSV field-count strictness: by default a
                    * line whose field count differs from the header's is
                    * a structure error aborting the import
                    * (CsvSource.validateStructure). `-a` permits
                    * underfilled lines (null-filled), `-r` permits
                    * surplus trailing fields that are all empty. This
                    * reader never interprets escape sequences (the
                    * `-noescapesequences` behavior is the default and
                    * the flag is accepted for compatibility).
                    */
                  allowUnderfilled: Boolean = false,
                  removeSurplusColumns: Boolean = false,
                  noEscapeSequences: Boolean = false,
                  help: Boolean = false, version: Boolean = false)

  /** Reference DataType enum (DbImportDefinition.java:33-42). */
  private val DataTypes =
    Set("CSV", "JSON", "YAML", "XML", "SQL", "EXCEL", "ODS", "VCF", "KDBX")

  /** `col=expr; col=expr` additional-values list (reference
    * `-insvalues`/`-updvalues`, DbImport.java:408-427).
    */
  private def parseValuesList(s: String): Map[String, String] =
    s.split(";").map(_.trim).filter(_.nonEmpty).map { pair =>
      val eq = pair.indexOf('=')
      require(eq > 0, s"invalid values list entry: $pair")
      pair.substring(0, eq).trim -> pair.substring(eq + 1).trim
    }.toMap

  def parseArgs(argv: Array[String]): Args = {
    // help/version short-circuit BEFORE the positional requirement —
    // `graft.cli.Main -help` must not demand a URL. Only the FIRST
    // token qualifies here (plus flag-position tokens in the loop
    // below): a blanket argv scan would let a flag VALUE or a file
    // literally named "help" silently turn an import into help output
    val first = argv.headOption.map(_.toLowerCase)
    if (first.exists(Set("-h", "-help", "help").contains))
      return Args("", "", "", Importer.ImportConfig(), help = true)
    if (first.exists(Set("-version", "version").contains))
      return Args("", "", "", Importer.ImportConfig(), version = true)
    require(argv.length >= 3, "usage: graft.cli.Main <jdbcUrl> <table> <file> [flags]")
    var a = Args(argv(0), argv(1), argv(2), Importer.ImportConfig())
    var i = 3
    def next(): String = { i += 1; argv(i - 1) }
    while (i < argv.length) {
      // the reference matches every flag case-insensitively
      // (DbImport.java `equalsIgnoreCase` throughout)
      argv(i).toLowerCase match {
        case "-i" => i += 1; a = a.copy(cfg = a.cfg.copy(mode = next() match {
          case m if m.equalsIgnoreCase("insert") => ImportMode.Insert
          case m if m.equalsIgnoreCase("update") => ImportMode.Update
          case m if m.equalsIgnoreCase("upsert") => ImportMode.Upsert
          case m if m.equalsIgnoreCase("clearinsert") => ImportMode.ClearInsert
          case m => throw new IllegalArgumentException(s"Invalid import mode: $m")
        }))
        case "-d" => i += 1; a = a.copy(cfg = a.cfg.copy(duplicateMode = next().toUpperCase match {
          case "NO_CHECK" => DuplicateMode.NoCheck
          case "CKECK_SOURCE_ONLY_DROP" => DuplicateMode.CheckSourceOnlyDrop
          case "CKECK_SOURCE_ONLY_JOIN" => DuplicateMode.CheckSourceOnlyJoin
          case "UPDATE_FIRST_DROP" => DuplicateMode.UpdateFirstDrop
          case "UPDATE_FIRST_JOIN" => DuplicateMode.UpdateFirstJoin
          case "UPDATE_ALL_DROP" => DuplicateMode.UpdateAllDrop
          case "UPDATE_ALL_JOIN" => DuplicateMode.UpdateAllJoin
          case "MAKE_UNIQUE_DROP" => DuplicateMode.MakeUniqueDrop
          case "MAKE_UNIQUE_JOIN" => DuplicateMode.MakeUniqueJoin
          case m => throw new IllegalArgumentException(s"Invalid duplicate mode: $m")
        }))
        case "-k" => i += 1
          a = a.copy(cfg = a.cfg.copy(keyColumns = next().split(",").map(_.trim).toSeq))
        case "-m" => i += 1; a = a.copy(cfg = a.cfg.copy(mapping = Some(next())))
        case "-create" => i += 1; a = a.copy(cfg = a.cfg.copy(createTableIfNeeded = true))
        case "-t" => i += 1; a = a.copy(cfg = a.cfg.copy(trimValues = true))
        case "-c" => i += 1; a = a.copy(cfg = a.cfg.copy(completeCommit = true))
        case "-n" => i += 1; a = a.copy(nullToken = Some(next()))
        case "-x" => i += 1
          // reference: -x <importDataFormat> (CSV/JSON/YAML/XML/SQL/
          // EXCEL/ODS/VCF/KDBX); -x SQL routes to the SQL-script worker
          require(i < argv.length, "Missing parameter for import format")
          val fmt = next().toUpperCase
          require(DataTypes.contains(fmt), s"Invalid parameter for import format: $fmt")
          a = a.copy(dataType = Some(fmt))
        case "-data" => i += 1; a = a.copy(inline = true)
        case "-analyse" => i += 1; a = a.copy(analyse = true)
        case "-sep" | "-s" => i += 1; a = a.copy(sep = next())
        case "-quote" | "-q" => i += 1; a = a.copy(quote = next())
        case "-qe" => i += 1; a = a.copy(quoteEscape = next())
        case "-noheaders" => i += 1; a = a.copy(headers = false)
        case "-zippassword" => i += 1; a = a.copy(zipPassword = Some(next()))
        case "-dp" => i += 1; a = a.copy(dataPath = Some(next()))
        case "-idtz" => i += 1; a = a.copy(cfg = a.cfg.copy(importTz = next()))
        case "-dbtz" => i += 1; a = a.copy(cfg = a.cfg.copy(dbTz = next()))
        case "-nonewindex" => i += 1; a = a.copy(cfg = a.cfg.copy(createIndexIfNeeded = false))
        case "-batchblocksize" => i += 1; a = a.copy(cfg = a.cfg.copy(batchSize = next().toInt))
        case "-u" => i += 1; a = a.copy(cfg = a.cfg.copy(updateWithNull = false))
        case "-a" => i += 1; a = a.copy(allowUnderfilled = true)
        case "-r" => i += 1; a = a.copy(removeSurplusColumns = true)
        case "-noescapesequences" => i += 1; a = a.copy(noEscapeSequences = true)
        case "-nosinglemode" => i += 1
          a = a.copy(cfg = a.cfg.copy(preventSingleFallback = true))
        case "-dateformat" => i += 1
          a = a.copy(cfg = a.cfg.copy(dateFormat = Some(next())))
        case "-datetimeformat" => i += 1
          a = a.copy(cfg = a.cfg.copy(dateTimeFormat = Some(next())))
        case "-mf" => i += 1
          val f = next()
          a = a.copy(cfg = a.cfg.copy(mapping = Some(new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
            "UTF-8").trim)))
        case "-structure" => i += 1; a = a.copy(structureFile = Some(next()))
        case "-logerrors" => i += 1; a = a.copy(logErrors = true)
        case "-deactivatefk" => i += 1; a = a.copy(deactivateFk = true)
        case "-deactivatetriggers" => i += 1; a = a.copy(deactivateTriggers = true)
        case "-table" => i += 1; a = a.copy(table = next())
        case "-import" => i += 1; a = a.copy(importPathOrData = next())
        case "-blobfile" => i += 1; a = a.copy(importPathOrData = next())
        case "-secure" => i += 1; a = a.copy(secure = true)
        case "-truststore" => i += 1; a = a.copy(trustStorePath = Some(next()))
        case "-truststorepassword" => i += 1
          a = a.copy(trustStorePassword = Some(next()))
        case "-sp" => i += 1; a = a.copy(schemaFile = Some(next()))
        case "importblob" => i += 1; a = a.copy(blobImport = true)
        case "-updatesql" => i += 1; a = a.copy(updateSql = Some(next()))
        case "-kdbxpassword" => i += 1; a = a.copy(kdbxPassword = Some(next()))
        case "-insvalues" => i += 1
          a = a.copy(cfg = a.cfg.copy(additionalInsertValues = parseValuesList(next())))
        case "-updvalues" => i += 1
          a = a.copy(cfg = a.cfg.copy(additionalUpdateValues = parseValuesList(next())))
        case "connectiontest" => i += 1; a = a.copy(connectionTest = true)
        case "createtruststore" => i += 1; a = a.copy(createTrustStore = true)
        case "-e" => i += 1; a = a.copy(encoding = next())
        case "-v" => i += 1; a = a.copy(verbose = true)
        case "-l" => i += 1; a = a.copy(logToFile = true)
        case "-iter" => i += 1; a = a.copy(iterations = next().toInt)
        case "-sleep" => i += 1; a = a.copy(sleepSeconds = next().toInt)
        case "-check" => i += 1; a = a.copy(checkSql = Some(next()))
        // help/version in FLAG position (after the positionals) — flag
        // VALUES never reach this match (next() consumes them above)
        case "-h" | "-help" | "help" => return a.copy(help = true)
        case "-version" | "version" => return a.copy(version = true)
        case other => throw new IllegalArgumentException(s"Invalid parameter: $other")
      }
    }
    a
  }

  private def containerStripped(path: String): String = path.toLowerCase
    .stripSuffix(".zip").stripSuffix(".tar.gz").stripSuffix(".tgz").stripSuffix(".gz")
  private val Extensions = Seq(".csv" -> "CSV", ".txt" -> "CSV", ".json" -> "JSON",
    ".yaml" -> "YAML", ".yml" -> "YAML", ".xml" -> "XML", ".xlsx" -> "EXCEL",
    ".xls" -> "EXCEL", ".ods" -> "ODS", ".vcf" -> "VCF", ".kdbx" -> "KDBX")

  /** -x <format> overrides the extension sniff (reference
    * DbImportDefinition.getDataType); without it the extension decides.
    */
  private def sourceFormat(a: Args, path: String): Option[String] =
    a.dataType.filterNot(_ == "SQL").orElse(Extensions.collectFirst {
      case (ext, fmt) if containerStripped(path).endsWith(ext) => fmt })

  /** Format sniffing by extension (reference
    * DbImportDefinition.java:582-653).
    */
  def readSource(spark: SparkSession, a: Args, path: String): DataFrame = {
    val lower = containerStripped(path)
    // schema pre-pass is a JSON/XML concept (DbImportDefinition.java:696)
    if (a.schemaFile.isDefined && !lower.endsWith(".json") && !lower.endsWith(".xml"))
      throw new IllegalArgumentException(
        s"SchemaFilePath is not supported for data format: $path")
    val csvOpts = CsvSource.CsvOptions(separator = a.sep, quote = a.quote,
      escape = a.quoteEscape,
      header = a.headers, nullToken = a.nullToken, trimValues = false,
      encoding = a.encoding)
    val compressed = path.toLowerCase.matches(".*\\.(zip|gz|tgz)$")
    // compressed containers decompress ONCE to a temp file named like
    // the inner format, then every branch (and the -sp validation and
    // the -e charset handling) reads that path — wiring decompression
    // per format would leave most branches reading raw container bytes
    val p =
      if (compressed) {
        val raw = readFileBytes(spark, path)
        val dec = Compression.decompress(new java.io.File(path).getName, raw, a.zipPassword)
        val tmp = java.io.File.createTempFile("graft_dec_",
          "_" + new java.io.File(lower).getName)
        tmp.deleteOnExit()
        java.nio.file.Files.write(tmp.toPath, dec)
        tmp.getPath
      } else path
    val fmt = sourceFormat(a, path).getOrElse(
      throw new IllegalArgumentException(s"unsupported format: $path"))
    fmt match {
      case "CSV" =>
        // reference field-count strictness: structure errors abort unless
        // -a / -r relax them (DbImportTest_Derby.testCsvImportErrorStructure)
        CsvSource.validateStructure(spark, p, csvOpts,
          a.allowUnderfilled, a.removeSurplusColumns)
        CsvSource.read(spark, p, csvOpts)
      case "JSON" =>
        a.schemaFile.foreach(SchemaValidation.validateJsonSchema(p, _))
        a.dataPath.map(dp => JsonSource.readArrayAt(spark, p, dp))
          .getOrElse(JsonSource.readArray(spark, p))
      case "YAML" => YamlSource.read(spark, p)
      case "XML" =>
        a.schemaFile.foreach(SchemaValidation.validateXsd(p, _))
        XmlSource.read(spark, p, a.dataPath, a.nullToken)
      case "EXCEL" =>
        // one DataType covers both workbook generations (reference
        // ExcelDataProvider): OOXML zips start with "PK", BIFF8 with the
        // CFB magic — sniff when the extension is ambiguous
        val isXlsx =
          if (lower.endsWith(".xlsx")) true
          else if (lower.endsWith(".xls")) false
          else {
            val in = new java.io.FileInputStream(p)
            try { in.read() == 'P' && in.read() == 'K' } finally in.close()
          }
        if (isXlsx) XlsxSource.read(spark, p, a.dataPath, a.headers)
        // -zippassword doubles as the workbook password (one container
        // password flag, like the reference's zipPassword plumbing)
        else XlsSource.read(spark, p, a.dataPath, a.headers, a.zipPassword)
      case "ODS" => OdsSource.read(spark, p, a.dataPath, a.headers)
      case "VCF" => VcfSource.read(spark, p)
      case "KDBX" =>
        KdbxSource.read(spark, p, a.kdbxPassword.getOrElse(
          throw new IllegalArgumentException(".kdbx import requires -kdbxpassword")))
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Whole-file bytes for any path Spark can see. A plain local file is
    * read directly (no Spark job); anything else — `hdfs://`/`s3://`
    * schemes, `file:` URIs, residual glob patterns — goes through the
    * binaryFile source so remote compressed inputs keep working.
    */
  private def readFileBytes(spark: SparkSession, path: String): Array[Byte] = {
    val local = new java.io.File(path)
    val isPattern = path.exists(c => c == '*' || c == '?' || c == '[' || c == '{')
    if (!isPattern && local.isFile)
      java.nio.file.Files.readAllBytes(local.toPath)
    else {
      val rows = spark.read.format("binaryFile").load(path)
        .select("path", "content").limit(2).collect()
      require(rows.nonEmpty, s"no file matched: $path")
      require(rows.length == 1,
        s"expected one file for single-file import, got multiple: $path")
      rows(0).getAs[Array[Byte]]("content")
    }
  }

  private val Usage =
    """usage: graft.cli.Main <jdbcUrl> <table> <importFileOrData> [flags]
      |modes: importblob | connectiontest | createtruststore | -x SQL (script worker) | -analyse
      |flags: -i <mode> -d <dupmode> -k <cols> -m <mapping> -mf <file> -create -t -c -u
      |  -x <CSV|JSON|YAML|XML|SQL|EXCEL|ODS|VCF|KDBX> (explicit format)
      |  -n <null> -data -s|-sep <c> -q|-quote <c> -qe <c> -noheaders -a -r
      |  -noescapesequences -nosinglemode -batchblocksize <n> -nonewindex
      |  -dateformat <f> -datetimeformat <f> -idtz <tz> -dbtz <tz> -zippassword <pw>
      |  -kdbxpassword <pw> -dp <path> -sp <schema> -structure <file> -logerrors
      |  -deactivatefk -deactivatetriggers -table <t> -import <f> -blobfile <f>
      |  -updatesql <sql> -secure -truststore <file> -truststorepassword <pw>
      |  -insvalues <list> -updvalues <list> -iter <n> -sleep <s> -check <sql>
      |  -e <charset> -v -l""".stripMargin

  def run(spark: SparkSession, a: Args): Int = {
    if (a.help) { println(Usage); return 0 }
    if (a.version) { println("graft dbimportspark 0.7"); return 0 }
    // TLS material for secure JDBC connections (reference -secure /
    // -truststore / -truststorepassword): standard javax.net.ssl props
    a.trustStorePath.foreach(p => System.setProperty("javax.net.ssl.trustStore", p))
    a.trustStorePassword.foreach(p =>
      System.setProperty("javax.net.ssl.trustStorePassword", p))
    if (a.createTrustStore) {
      // reference `createtruststore` mode (DbImport.java:745-746):
      // positionals become <host[:port]> <truststoreFile> <password|''>
      val pw = if (a.importPathOrData.nonEmpty) a.importPathOrData.toCharArray
               else null
      graft.sink.TrustStore.createTrustStoreFile(a.url, 443,
        new java.io.File(a.table), pw)
      println(s"Created TrustStore in file '${a.table}'")
      return 0
    }
    if (a.connectionTest) {
      // reference `connectiontest` mode (DbImport.java:222, -iter/-sleep/
      // -check at :672-700)
      val attempts = graft.sink.ConnectionTest.run(a.url, a.iterations,
        a.sleepSeconds * 1000L, a.checkSql)
      attempts.foreach { at =>
        println(s"Iteration ${at.iteration}: " +
          (if (at.ok) s"OK (${at.millis} ms)" else s"FAILED ${at.error.getOrElse("")}"))
      }
      return if (attempts.forall(_.ok)) 0 else 1
    }
    if (a.blobImport) {
      // single-file → BLOB column (DbImport.java:834: DbUtilities
      // .updateBlob(definition, updateSql, importFilePath))
      val sql = a.updateSql.getOrElse(
        throw new IllegalArgumentException("importblob requires -updatesql"))
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(a.importPathOrData))
      val n = graft.sink.JdbcSink.updateBlob(a.url, sql, bytes)
      println(s"Updated $n rows")
      return 0
    }
    if (a.dataType.contains("SQL")) {
      val script =
        if (a.inline) a.importPathOrData
        else new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(a.importPathOrData)), "UTF-8")
      val r = graft.sink.SqlScript.execute(a.url, script, a.cfg.completeCommit)
      println(s"Executed ${r.executed} statements, ${r.errors.length} errors")
      return if (r.errors.isEmpty) 0 else 1
    }
    // structure-file pre-pass (reference -structure): CREATE missing
    // tables / ALTER ADD missing columns before any import runs
    a.structureFile.foreach { f =>
      val tables = graft.schema.StructureFile.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8"))
      val (created, added) = graft.schema.StructureFile.sync(a.url, tables)
      created.foreach(t => println(s"Created table $t"))
      added.foreach { case (t, c) => println(s"Added column $t.$c") }
    }
    if (a.deactivateFk || a.deactivateTriggers)
      // vendor-specific DDL toggles; graft runs none, so say so
      System.err.println("[graft] -deactivatefk/-deactivatetriggers: " +
        "not supported, foreign keys and triggers stay active; proceeding")
    // -logerrors without an explicit export path: erroneous rows land
    // next to the import file (reference logErroneousData behavior), in
    // the source's own format for JSON and XML
    val cfgRun =
      if (a.logErrors && a.cfg.errorExportPath.isEmpty && !a.inline) {
        val ext = sourceFormat(a, a.importPathOrData).filter(Set("JSON", "XML"))
          .fold("")("." + _.toLowerCase)
        a.cfg.copy(errorExportPath = Some(a.importPathOrData + ".errors" + ext))
      } else a.cfg
    val a2 = a.copy(cfg = cfgRun)
    val multi = a.importPathOrData.exists(c => c == '*' || c == '?') && !a.inline
    if (multi) {
      val results = MultiImporter.importGlob(spark, a.importPathOrData, a.url, a.table,
        a2.cfg, (s, f) => readSource(s, a2, f))
      results.foreach {
        case MultiImporter.FileResult(f, t, Right(r)) =>
          println(s"$f -> $t: imported ${r.inserted}, updated ${r.updated}")
        case MultiImporter.FileResult(f, t, Left(e)) => println(s"$f -> $t: ERROR $e")
      }
      if (results.forall(_.result.isRight)) 0 else 1
    } else {
      val src =
        if (a.inline) {
          // -data payload shape decides the parser (the reference feeds
          // inline data through the SAME provider dispatch,
          // DataProvider.java:150-156): JSON array/object, vCard, YAML
          // sequence, else the CSV dialect
          val t = a.importPathOrData.trim
          val fmt = a.dataType.filterNot(_ == "SQL").getOrElse {
            if (t.startsWith("[") || t.startsWith("{")) "JSON"
            else if (t.toUpperCase.startsWith("BEGIN:VCARD")) "VCF"
            else if (t.startsWith("- ")) "YAML"
            else "CSV"
          }
          fmt match {
            case "JSON" => JsonSource.readInline(spark, a.importPathOrData)
            case "VCF" => VcfSource.readInline(spark, a.importPathOrData)
            case "YAML" => YamlSource.readInline(spark, a.importPathOrData)
            case "CSV" =>
              import spark.implicits._
              val csvOpts = CsvSource.CsvOptions(separator = a.sep,
                quote = a.quote, escape = a.quoteEscape, header = a.headers,
                nullToken = a.nullToken)
              val ds = spark.createDataset(a.importPathOrData.split("\n").toSeq)
              CsvSource.validateStructure(ds, csvOpts,
                a.allowUnderfilled, a.removeSurplusColumns)
              CsvSource.readLines(ds, csvOpts)
            case other => throw new IllegalArgumentException(
              s"unsupported inline data format: $other")
          }
        } else readSource(spark, a, a.importPathOrData)
      if (a.analyse) {
        MultiImporter.analyse(src).foreach { case (c, t) => println(s"$c: $t") }
        0
      } else {
        // reference "Imported data amount" statistic: the source's size
        val amount =
          if (a.inline) a.importPathOrData.getBytes("UTF-8").length.toLong
          else new java.io.File(a.importPathOrData).length()
        def doImport() = Importer.importToJdbc(src, a.url, a.table,
          a2.cfg.copy(dataAmount = amount))
        // -v: task-level progress with ETA (reference verbose mode)
        val r = if (a.verbose)
          graft.api.Progress.withProgress(spark, s"import ${a.table}")(doImport())
        else doImport()
        val stats =
          s"Found: ${r.found}  Valid: ${r.valid}  Invalid: ${r.invalid}  " +
          s"Duplicates: ${r.duplicates}  Inserted: ${r.inserted}  Updated: ${r.updated}  " +
          s"Final count: ${r.finalCount}\n" +
          f"Imported data amount: ${r.dataAmount} Byte  " +
          f"Duration: ${r.durationMs} ms  Items/second: ${r.itemsPerSecond}%.1f"
        println(stats)
        // -l: persist the statistics next to the import file (reference
        // log-file mode)
        if (a.logToFile && !a.inline) {
          val log = new java.io.File(a.importPathOrData + ".import.log")
          java.nio.file.Files.write(log.toPath, stats.getBytes("UTF-8"))
        }
        0
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, a) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
