package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format source queries — CSV/JSON/XML/YAML/vCard/xlsx/xls/ODS/KeePass/compressed scans and the multimodal (image/audio/video) decode surface.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesSources]] / [[oracleSqlSources]] to the
  * assembled driver contract.
  */
private[graft] trait SourcesQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q29
  /** Multimodal binary-column plumbing: opaque payloads + typed metadata
    * extracted scan-side (decode itself is the stubbed mapPartitions path,
    * exercised in the test suite).
    */
  def q29MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    val media = documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio")).otherwise(lit("video"))
        .as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))
    operators.Multimodal.withBinaryMeta(media, "payload")
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("header_hex"), col("content_md5"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q62
  /** REAL image decode end-to-end: deterministic solid-color PNGs are
    * synthesized from part keys (lossless encode), decoded back through
    * the JDK ImageIO pipeline ([[operators.Multimodal.imageFeatures]]),
    * and the recovered dimensions + channel means are checked against an
    * oracle that predicts them analytically from the same key formula —
    * proving the binary column plumbing carries real media, not just
    * metadata.
    */
  def q62ImageDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = part(s, d).select(col("p_partkey"))
      .filter(col("p_partkey") % 7 === 0)
      .as[Long].map { k =>
        Multimodal.MediaRecord(k, "image", Multimodal.solidPng(
          w = (8 + k % 24).toInt, h = (8 + k % 17).toInt,
          r = (k % 256).toInt, g = (k * 7 % 256).toInt, b = (k * 13 % 256).toInt))
      }
    Multimodal.imageFeatures(recs).toDF()
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------- q30
  /** CSV source round-trip: write nation as `;`-separated CSV with the
    * reference dialect, read it back through [[sources.CsvSource]] and
    * cast via the mapping (SURVEY §2.1 CSV scan).
    */
  def q30SrcCsv(s: SparkSession, d: String): DataFrame = {
    import sources._
    val f = SyntheticFixtures.dir("csv")
    SyntheticFixtures.writeText(new java.io.File(f, "nation.csv"), nationCsv(s, d))
    castNation(CsvSource.read(s, new java.io.File(f, "nation.csv").getPath))
  }

  // ---------------------------------------------------------------- q31
  /** JSON source round-trip (JSON-lines, the scalable layout): write an
    * orders subset, read back via [[sources.JsonSource.readLines]]
    * (SURVEY §2.1 JSON scan).
    */
  def q31SrcJson(s: SparkSession, d: String): DataFrame = {
    val f = new java.io.File(sources.SyntheticFixtures.dir("json"), "orders")
    orders(s, d).filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      .write.mode("overwrite").json(f.getPath)
    sources.JsonSource.readLines(s, f.getPath)
      .select(col("o_orderkey").cast("long"), col("o_orderstatus").cast("string"),
        col("o_totalprice").cast("double"), col("o_orderdate").cast("timestamp"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q32
  /** XML source round-trip: `<Entries><Entry><col>v</col>…` generated
    * from region, parsed back by the streaming StAX reader
    * (SURVEY §2.1 XML scan).
    */
  def q32SrcXml(s: SparkSession, d: String): DataFrame = {
    val rows = region(s, d).orderBy(col("r_regionkey")).collect()
    val xml = rows.map { r =>
      s"  <Entry>\n    <r_regionkey>${r.getInt(0)}</r_regionkey>\n" +
        s"    <r_name>${r.getString(1)}</r_name>\n  </Entry>"
    }.mkString("<Entries>\n", "\n", "\n</Entries>")
    val f = new java.io.File(sources.SyntheticFixtures.dir("xml"), "region.xml")
    sources.SyntheticFixtures.writeText(f, xml)
    sources.XmlSource.read(s, f.getPath)
      .select(col("r_regionkey").cast("int"), col("r_name").cast("string"))
      .orderBy(col("r_regionkey"))
  }

  // ---------------------------------------------------------------- q33
  /** YAML source round-trip: nation as a YAML sequence of flat mappings,
    * parsed by SnakeYAML inside tasks (SURVEY §2.1 YAML scan).
    */
  def q33SrcYaml(s: SparkSession, d: String): DataFrame = {
    val rows = nation(s, d).orderBy(col("n_nationkey")).collect()
    val yaml = rows.map { r =>
      s"- n_nationkey: ${r.getInt(0)}\n  n_name: \"${r.getString(1)}\"\n  n_regionkey: ${r.getInt(2)}"
    }.mkString("\n")
    val f = new java.io.File(sources.SyntheticFixtures.dir("yaml"), "nation.yaml")
    sources.SyntheticFixtures.writeText(f, yaml)
    castNation(sources.YamlSource.read(s, f.getPath))
  }

  // ---------------------------------------------------------------- q34
  /** vCard source round-trip: cards generated from customers, flattened
    * back to firstname/lastname/formatted_name/phone columns
    * (SURVEY §2.1 vCard scan).
    */
  def q34SrcVcf(s: SparkSession, d: String): DataFrame = {
    val ks = customer(s, d).filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey")).orderBy(col("c_custkey")).collect().map(_.getLong(0))
    val vcf = ks.map { k =>
      s"BEGIN:VCARD\nVERSION:2.1\nN:Cust$k;First$k;;;\nFN:First$k Cust$k\nTEL;CELL:+490000$k\nEND:VCARD"
    }.mkString("\n")
    val f = new java.io.File(sources.SyntheticFixtures.dir("vcf"), "customers.vcf")
    sources.SyntheticFixtures.writeText(f, vcf)
    sources.VcfSource.read(s, f.getPath)
      .select(col("firstname"), col("lastname"), col("formatted_name"),
        col("phone_1"), col("phone_1_attr"))
      .orderBy(col("lastname"))
  }

  // ---------------------------------------------------------------- q35
  /** Compression layer: the same nation CSV read through gz, tar.gz,
    * plain zip and ZipCrypto-password zip containers
    * (SURVEY §2.1 compression; password fixture analog of
    * `Test_ZipCrypto_Password_abc123.csv.zip`).
    */
  def q35SrcCompressed(s: SparkSession, d: String): DataFrame = {
    import sources._
    import s.implicits._
    val csv = nationCsv(s, d)
    val base = SyntheticFixtures.dir("compressed")
    SyntheticFixtures.writeGz(new java.io.File(base, "nation_gz.csv.gz"), csv)
    SyntheticFixtures.writeZip(new java.io.File(base, "nation_zip.csv.zip"), "nation.csv", csv)
    SyntheticFixtures.writeTarGz(new java.io.File(base, "nation_tgz.csv.tar.gz"), "nation.csv", csv)
    SyntheticFixtures.writeZipCrypto(
      new java.io.File(base, "nation_pwzip.csv.zip"), "nation.csv", csv, "abc123")
    SyntheticFixtures.writeZipAes256(
      new java.io.File(base, "nation_aeszip.csv.zip"), "nation.csv", csv, "abc123")
    def readVariant(file: String, variant: String, pw: Option[String]): DataFrame = {
      val content = Compression.readWholeText(s, new java.io.File(base, file).getPath, pw)
        .map(_._2)
      val lines = content.flatMap(_.split("\n").toSeq)
      CsvSource.readLines(lines).withColumn("variant", lit(variant))
    }
    readVariant("nation_aeszip.csv.zip", "aeszip", Some("abc123"))
      .unionAll(readVariant("nation_gz.csv.gz", "gz", None))
      .unionAll(readVariant("nation_pwzip.csv.zip", "pwzip", Some("abc123")))
      .unionAll(readVariant("nation_tgz.csv.tar.gz", "tgz", None))
      .unionAll(readVariant("nation_zip.csv.zip", "zip", None))
      .select(col("variant"), col("n_nationkey").cast("int"),
        col("n_name").cast("string"), col("n_regionkey").cast("int"))
      .orderBy(col("variant"), col("n_nationkey"))
  }

  // ---------------------------------------------------------------- q36
  /** Table-name-from-file-name derivation for multi-file `-table '*'`
    * imports (reference DbImport.java:1316-1340, pinned by its unit
    * test): names flow through [[sources.TableNames.deriveTableName]].
    */
  def q36TableNames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = nation(s, d).select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey")).collect()
      .map { r =>
        val fileName = s"import_${r.getString(1)}(${r.getString(1).toLowerCase}).csv.gz"
        (r.getInt(0), sources.TableNames.deriveTableName(fileName))
      }
    s.createDataset(rows.toIndexedSeq).toDF("n_nationkey", "table_name")
      .orderBy(col("n_nationkey"))
  }

  // ---------------------------------------------------------------- q66
  /** REAL audio decode end-to-end (PCM WAV via the JDK's javax.sound):
    * deterministic square-wave fixtures synthesized from supplier keys
    * round-trip through encode → binary column → decode; recovered
    * format and RMS check against an oracle predicting them analytically
    * (square wave ⇒ RMS == amplitude, exactly, in raw sample units).
    */
  def q66AudioDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = supplier(s, d).select(col("s_suppkey"))
      .filter(col("s_suppkey") % 3 === 0)
      .as[Long].map { k =>
        Multimodal.MediaRecord(k, "audio", Multimodal.squareWav(
          sampleRate = 8000, amplitude = (1000 + k * 31 % 20000).toInt,
          nSamples = (4000 + k % 50 * 100).toInt))
      }
    Multimodal.audioFeatures(recs).toDF()
      .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"), col("n_samples"),
        col("rms"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------- q94
  /** REAL video frame sampling: uncompressed AVIs (one per selected
    * supplier, solid BI_RGB frames whose colors are a fixed function of
    * (media_id, frame_idx)) are decoded by the RIFF walker
    * ([[operators.Multimodal.decodeVideoFrames]]) and every 2nd frame's
    * exact channel means emitted. Lossless frames ⇒ the oracle predicts
    * decode output analytically (the video analog of q66's square-wave
    * RMS). Decode is partition-preserving `mapPartitions` — each task
    * decodes its own payloads, nothing centralizes.
    */
  def q94VideoFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = supplier(s, d).select(col("s_suppkey"))
      .filter(col("s_suppkey") % 4 === 0)
      .as[Long].map { k =>
        val n = (6 + k % 5).toInt
        val colors = (0 until n).map { f =>
          (((k * 37 + f * 11) % 256).toInt, ((k * 53 + f * 23) % 256).toInt,
            ((k * 71 + f * 5) % 256).toInt)
        }
        Multimodal.MediaRecord(k, "video",
          Multimodal.solidAvi(32 + (k % 3).toInt * 16, 24, fps = 10, colors))
      }
    Multimodal.videoFrameFeatures(recs, stride = 2).toDF()
      .select(col("media_id"), col("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  // ---------------------------------------------------------------- q141
  /** Audio silence-span detection (VAD-lite) — the speech-curation
    * step between raw audio and training segments: burst-pattern WAVs
    * (alternating square-wave and true-zero bursts, one per selected
    * supplier) are REALLY decoded ([[operators.Multimodal
    * .audioFrameEnergy]], JDK PCM reader), cut into 160-sample
    * analysis frames with exact integer energies, and maximal silent
    * runs become spans via the gaps-and-islands window
    * ([[operators.Multimodal.silenceSpans]]). The oracle predicts the
    * spans analytically from the burst geometry — the decode itself is
    * the thing under test.
    */
  def q141SilenceSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = supplier(s, d).select(col("s_suppkey"))
      .filter(col("s_suppkey") % 3 === 0)
      .as[Long].map { k =>
        Multimodal.MediaRecord(k, "audio", Multimodal.burstWav(
          sampleRate = 8000, amplitude = (1000 + k * 31 % 20000).toInt,
          nSamples = (4000 + k % 50 * 100).toInt,
          burstLen = (400 + k % 5 * 80).toInt))
      }
    Multimodal.silenceSpans(
        Multimodal.audioFrameEnergy(recs, frameSamples = 160), threshold = 0L)
      .orderBy(col("media_id"), col("span_idx"))
  }

  // ---------------------------------------------------------------- q142
  /** Perceptual image dedup via difference-hash — the image analog of
    * q25's SimHash: deterministic block-gradient PNGs (one per
    * selected part; keys pair up as `(10j, 10j+5)` where the odd
    * member is a uniform +1 brightness shift of the even one) are
    * REALLY decoded and box-filtered to a 9×8 luminance grid with
    * exact integer cell sums ([[operators.Multimodal.imageDHashes]]),
    * and duplicate pairs surface through a hash-equality self-join —
    * O(n) shuffle on the 64-bit hash, never a pixel-space n² compare.
    * The planted shift changes every byte (md5 differs) but no
    * adjacent-cell comparison, so only the perceptual hash finds the
    * pair; the oracle replays the cell formula and bit-packing in SQL.
    */
  def q142ImageDhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = part(s, d).select(col("p_partkey"))
      .filter(col("p_partkey") % 5 === 0)
      .as[Long].map { k =>
        Multimodal.MediaRecord(k, "image",
          Multimodal.gridPng(seed = k - k % 10, delta = ((k % 10) / 5).toInt))
      }
    val hashes = Multimodal.imageDHashes(recs).toDF()
      .select(col("media_id"), col("hash_hi"), col("hash_lo"))
    hashes.as("a").join(hashes.as("b"),
        col("a.hash_hi") === col("b.hash_hi") &&
          col("a.hash_lo") === col("b.hash_lo") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.hash_hi").as("hash_hi"), col("a.hash_lo").as("hash_lo"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------- q149
  /** Shot-boundary detection over REAL video decode
    * ([[operators.Multimodal.sceneSegments]]): deterministic
    * uncompressed AVIs (solid frames whose colors jitter by ±1 within
    * a "shot" and jump at shot changes) are decoded by the RIFF
    * walker, and scenes segmented where the L1 frame-difference
    * exceeds 30. Decode is partition-preserving mapPartitions; the
    * segmentation is one media-partitioned window + one hash agg. The
    * oracle predicts every frame color analytically from the fixture
    * formula (lossless frames ⇒ exact integer means).
    */
  def q149SceneChange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = supplier(s, d).select(col("s_suppkey"))
      .filter(col("s_suppkey") % 5 === 1)
      .as[Long].map { k =>
        val n = (12 + k % 7).toInt
        val shot = (3 + k % 3).toInt
        val colors = (0 until n).map { f =>
          val sIdx = f / shot
          (((k * 37 + sIdx * 89) % 254 + f % 2).toInt,
            ((k * 53 + sIdx * 131) % 254 + f % 2).toInt,
            ((k * 71 + sIdx * 17) % 254 + f % 2).toInt)
        }
        Multimodal.MediaRecord(k, "video", Multimodal.solidAvi(32, 24, 10, colors))
      }
    Multimodal.sceneSegments(Multimodal.videoFrameFeatures(recs, stride = 1),
        threshold = 30)
      .orderBy(col("media_id"), col("scene_idx"))
  }

  // ---------------------------------------------------------------- q154
  /** Hamming-tolerant perceptual dedup ([[operators.Multimodal
    * .nearDupDHashPairs]]): dHash near-dups within distance 2 via the
    * 4-band multi-index join — the scale path for "almost identical
    * image" discovery (q142's exact-equality join misses single-bit
    * mutants). The fixture plants a single-cell brightness bump per
    * pair (≤ 2 hash bits flip, structurally); real PNG decode on both
    * members; the oracle replays every hash bit AND the brute-force
    * Hamming join from the cell formula — by pigeonhole the banded
    * candidate set equals brute force at distance ≤ 3.
    */
  def q154DhashHamming(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import operators.Multimodal
    val recs = part(s, d).select(col("p_partkey"))
      .filter(col("p_partkey") % 5 === 2)
      .as[Long].map { k =>
        val kb = k - k % 10 // pair members: k%10 = 2 (base) and 7 (mutant)
        if (k % 10 == 2)
          Multimodal.MediaRecord(k, "image", Multimodal.gridPng(kb, 0))
        else
          Multimodal.MediaRecord(k, "image", Multimodal.gridPng(kb, 0,
            bumpGx = ((kb / 10) % 9).toInt, bumpGy = ((kb / 10) % 8).toInt,
            bumpDelta = 120))
      }
    Multimodal.nearDupDHashPairs(
        Multimodal.imageDHashes(recs).toDF()
          .select(col("media_id"), col("hash_hi"), col("hash_lo")),
        maxHamming = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------- q38
  /** Excel (.xlsx) source round-trip: OOXML workbook generated from
    * nation, parsed back by the pure-JDK zip+StAX reader
    * (SURVEY §2.1 Excel scan).
    */
  def q38SrcXlsx(s: SparkSession, d: String): DataFrame = {
    val rows = nation(s, d).orderBy(col("n_nationkey")).collect()
    val data = Seq(Seq("n_nationkey", "n_name", "n_regionkey")) ++
      rows.map(r => Seq(r.getInt(0).toString, r.getString(1), r.getInt(2).toString))
    val f = new java.io.File(sources.SyntheticFixtures.dir("xlsx"), "nation.xlsx")
    sources.SyntheticFixtures.writeXlsx(f, "data", data)
    castNation(sources.XlsxSource.read(s, f.getPath))
  }

  // ---------------------------------------------------------------- q39
  /** ODS source round-trip: content.xml table generated from nation with
    * sheet selection by name (SURVEY §2.1 ODS scan).
    */
  def q39SrcOds(s: SparkSession, d: String): DataFrame = {
    val rows = nation(s, d).orderBy(col("n_nationkey")).collect()
    val data = Seq(Seq("n_nationkey", "n_name", "n_regionkey")) ++
      rows.map(r => Seq(r.getInt(0).toString, r.getString(1), r.getInt(2).toString))
    val f = new java.io.File(sources.SyntheticFixtures.dir("ods"), "nation.ods")
    sources.SyntheticFixtures.writeOds(f, "data", data)
    castNation(sources.OdsSource.read(s, f.getPath, sheetName = Some("data")))
  }

  // ---------------------------------------------------------------- q40
  /** KeePass (.kdbx) source round-trip: entries generated from customers,
    * encrypted into a kdbx 3.1 container (AES-KDF + AES-CBC + hashed
    * block stream + gzip), decrypted and flattened back
    * (SURVEY §2.1 KeePass scan).
    */
  def q40SrcKdbx(s: SparkSession, d: String): DataFrame = {
    val ks = customer(s, d).filter(col("c_custkey") % 101 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey")).collect()
    val entries = ks.map { r =>
      Map("Title" -> s"cust${r.getLong(0)}", "UserName" -> r.getString(1),
        "Notes" -> r.getString(2))
    }.toSeq
    // entries split across a kdbx 3.1 vault (AES-KDF + Salsa20), a kdbx4
    // Argon2id vault, and a kdbx4 Argon2d vault whose payload spans
    // multiple HMAC blocks — one glob read covers all three container
    // shapes
    val byThree = entries.zipWithIndex.groupBy(_._2 % 3)
    def part(i: Int) = byThree.getOrElse(i, Seq.empty).map(_._1)
    val dir = sources.SyntheticFixtures.dir("kdbx")
    sources.KdbxWriter.write(new java.io.File(dir, "customers_a.kdbx"),
      "abc123", part(0))
    sources.KdbxWriter.write4(new java.io.File(dir, "customers_b.kdbx"),
      "abc123", part(1))
    sources.KdbxWriter.write4(new java.io.File(dir, "customers_c.kdbx"),
      "abc123", part(2),
      argon2Variant = sources.Kdbx4Crypto.Argon2Type.D, blockSize = 96)
    sources.KdbxSource.read(s, new java.io.File(dir, "customers_*.kdbx").getPath,
        "abc123")
      .select(col("Title").as("title"), col("UserName").as("username"),
        col("Notes").as("notes"))
      .orderBy(col("title"))
  }

  // ---------------------------------------------------------------- q42
  /** Legacy Excel (.xls, BIFF8) source round-trip through the native
    * CFB+BIFF reader (SURVEY §2.1 Excel 2003 scan). The glob spans all
    * four workbook protections — plaintext, standard RC4, RC4 CryptoAPI
    * and XOR obfuscation — read in one pass with one password.
    */
  def q42SrcXls(s: SparkSession, d: String): DataFrame = {
    val rows = nation(s, d).orderBy(col("n_nationkey")).collect()
    val header = Seq(Seq("n_nationkey", "n_name", "n_regionkey"))
    val all = rows.map(r => Seq(r.getInt(0).toString, r.getString(1), r.getInt(2).toString))
    val byFour = all.zipWithIndex.toSeq.groupBy(_._2 % 4)
    def part(i: Int) = header ++ byFour.getOrElse(i, Seq.empty).map(_._1)
    val dir = sources.SyntheticFixtures.dir("xls")
    sources.SyntheticFixtures.writeXls(
      new java.io.File(dir, "nation_a.xls"), "data", part(0))
    sources.SyntheticFixtures.writeXls(
      new java.io.File(dir, "nation_b.xls"), "data", part(1),
      password = Some("abc123"))
    sources.SyntheticFixtures.writeXls(
      new java.io.File(dir, "nation_c.xls"), "data", part(2),
      password = Some("abc123"), encryption = "cryptoapi")
    sources.SyntheticFixtures.writeXls(
      new java.io.File(dir, "nation_d.xls"), "data", part(3),
      password = Some("abc123"), encryption = "xor")
    castNation(sources.XlsSource.read(s, new java.io.File(dir, "nation_*.xls").getPath,
      sheetName = Some("data"), password = Some("abc123")))
  }

  // ---------------------------------------------------------------- q323
  /** HTML ingestion + boilerplate extraction end-to-end
    * ([[sources.HtmlSource]]): each document's text is wrapped in a
    * deterministic page — head with title/style/script, a nav of
    * links, an aside, an h1, the text as TWO unclosed `<p>` paragraphs
    * (split at the word midpoint), an all-link "see also" div, and a
    * footer — then parsed back by the tolerant tokenizer and run
    * through the boilerpipe-style content heuristic. The oracle never
    * parses HTML: it predicts the extraction analytically from the
    * same word-split on the raw text, so every structural rule (head
    * skip, raw-text skip, nav/aside/footer pruning, the ≥5-word and
    * link-density cuts, entity round-trip, unclosed-tag healing) is
    * load-bearing for the hash match. Fully distributed: the page is
    * built and parsed per-row, no driver loop, no shuffle before the
    * final 1-row-per-doc aggregate.
    */
  def q323HtmlExtract(s: SparkSession, d: String): DataFrame = {
    def esc(c: Column): Column = regexp_replace(regexp_replace(
      regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val docs = documents(s, d).select(col("doc_id"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("__t"))
      .withColumn("__ws", split(col("__t"), " "))
      .withColumn("__h", expr("(size(__ws) + 1) div 2"))
      .withColumn("__p1",
        array_join(slice(col("__ws"), lit(1), col("__h")), " "))
      .withColumn("__p2", array_join(slice(col("__ws"),
        col("__h") + 1, size(col("__ws")) - col("__h")), " "))
    val page = docs.select(col("doc_id"), concat(
      lit("<!DOCTYPE html>\n<html>\n<head><title>Doc "), col("doc_id"),
      lit("</title>\n<style>p { margin: 0 }</style>\n" +
        "<script>if (1<2) { var x = \"a & </div> b\"; }</script>\n" +
        "</head>\n<body>\n" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav>\n<aside>Related: doc "),
      col("doc_id"), lit("</aside>\n<article>\n<h1>Doc "), col("doc_id"),
      lit("</h1>\n<p>"), esc(col("__p1")), lit("\n<p>"), esc(col("__p2")),
      lit("\n<div class=\"links\"><a href=\"/1\">See</a> " +
        "<a href=\"/2\">also</a> <a href=\"/3\">item</a> " +
        "<a href=\"/4\">A</a> <a href=\"/5\">item</a> " +
        "<a href=\"/6\">B</a> <a href=\"/7\">item</a> " +
        "<a href=\"/8\">C</a></div>\n</article>\n" +
        "<footer>&copy; 2026 example corpus footer</footer>\n" +
        "</body>\n</html>")).as("__html"))
    sources.HtmlSource.mainStats(page, "doc_id", "__html")
      .select(col("doc_id"), col("n_blocks"), col("n_content"),
        col("content_words"),
        length(col("content_text")).cast("long").as("content_len"),
        md5(col("content_text").cast("binary")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q325
  /** WARC / WET web-archive round-trip ([[sources.WarcSource]]): each
    * sampled document becomes either a WET `conversion` record
    * (text/plain, UTF-8) or a `response` record carrying a full HTTP
    * message — one variant with `Content-Length` framing and a lower
    * case `charset=utf-8`, one chunked-transfer-encoded with a quoted
    * `charset="UTF-16BE"` — plus an ignored `request` twin and a
    * per-file `warcinfo` header record. The records are spread across
    * the three Common Crawl layouts (per-record gzip members,
    * single-member gzip, uncompressed) and read back through one glob.
    * The oracle replays the surviving rows analytically from
    * `documents`, so record framing, multi-member gzip, HTTP header
    * parsing, chunked decoding, the UTF-16BE round-trip, the charset
    * report, WARC-Date parsing, and the type filter are each
    * load-bearing for the hash match.
    */
  def q325SrcWarc(s: SparkSession, d: String): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    import sources.WarcWriter
    val docs = documents(s, d).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).collect()
    def dt(id: Long): String = f"2026-01-${id % 28 + 1}%02dT00:00:00Z"
    val perDoc: Seq[Seq[Array[Byte]]] = docs.toIndexedSeq.map { r =>
      val id = r.getLong(0)
      val src = r.getString(1)
      val text = r.getString(2)
      val host = s"$src.example.org"
      val uri = s"https://$host/docs/$id"
      id % 3 match {
        case 0 => Seq(WarcWriter.record("conversion", Seq(
          "WARC-Target-URI" -> uri, "WARC-Date" -> dt(id),
          "Content-Type" -> "text/plain"), text.getBytes(UTF_8)))
        case 1 => Seq(
          WarcWriter.record("request", Seq(
            "WARC-Target-URI" -> uri, "WARC-Date" -> dt(id),
            "Content-Type" -> "application/http; msgtype=request"),
            WarcWriter.httpRequest(s"/docs/$id", host)),
          WarcWriter.record("response", Seq(
            "WARC-Target-URI" -> uri, "WARC-Date" -> dt(id),
            "Content-Type" -> "application/http; msgtype=response"),
            WarcWriter.httpResponse(200, "OK", "text/plain; charset=utf-8",
              text.getBytes(UTF_8))))
        case _ => Seq(WarcWriter.record("response", Seq(
          "WARC-Target-URI" -> uri, "WARC-Date" -> dt(id),
          "Content-Type" -> "application/http; msgtype=response"),
          WarcWriter.httpResponse(200, "OK",
            "text/plain; charset=\"UTF-16BE\"", text.getBytes("UTF-16BE"),
            chunked = true)))
      }
    }
    val byThree = perDoc.zipWithIndex.groupBy(_._2 % 3)
    def shard(i: Int): Seq[Array[Byte]] =
      WarcWriter.warcinfo("2026-01-01T00:00:00Z") +:
        byThree.getOrElse(i, Seq.empty).flatMap(_._1)
    val dir = sources.SyntheticFixtures.dir("warc")
    WarcWriter.write(new java.io.File(dir, "cc_a.warc.gz"), shard(0), "members")
    WarcWriter.write(new java.io.File(dir, "cc_b.warc.gz"), shard(1), "gzip")
    WarcWriter.write(new java.io.File(dir, "cc_c.warc"), shard(2), "plain")
    sources.WarcSource.read(s, new java.io.File(dir, "cc_*").getPath)
      .filter(col("warc_type").isin("conversion", "response"))
      .select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("warc_type").as("rec_type"),
        col("http_status").cast("long").as("status"),
        col("charset"),
        length(col("body")).cast("long").as("n_chars"),
        to_timestamp(substring(col("warc_date"), 1, 10)).as("warc_day"),
        md5(col("body").cast("binary")).as("body_md5"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q326
  /** URL canonicalization + registered-domain extraction
    * ([[graft.functions.UrlOps]]): each document gets a deterministic
    * messy URL — upper-case scheme/host, a default or explicit port,
    * `/./` and `/../` dot segments, mixed-case percent escapes of both
    * unreserved (`%7e`) and reserved (`%2f`) characters, tracking
    * params (`utm_*`, `gclid`) shuffled between real params, and a
    * fragment — and every tenth document a scheme-less junk string.
    * The oracle predicts the canonical form, the PSL-based registered
    * domain (including the multi-label `co.uk`/`com.cn` suffixes), and
    * the kept/dropped param counts analytically, so each rule (scheme/
    * host folding, default-port drop, dot-segment removal, percent
    * normalization, tracking-param drop, param sort, fragment drop,
    * null on unparsable) is load-bearing. Pure per-row scalar work: no
    * shuffle before the final order.
    */
  def q326UrlCanonical(s: SparkSession, d: String): DataFrame = {
    import graft.functions.UrlOps
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("lang"))
    val tld = when(col("lang") === "en", "co.uk")
      .when(col("lang") === "de", "de").when(col("lang") === "es", "es")
      .when(col("lang") === "fr", "fr").otherwise("com.cn")
    val port = when(col("doc_id") % 4 === 0, ":443")
      .when(col("doc_id") % 4 === 1, ":80")
      .when(col("doc_id") % 4 === 2, ":8080").otherwise("")
    val scheme = when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http")
    val url = when(col("doc_id") % 10 === 9,
      concat(lit("www.example.com/no-scheme-"), col("doc_id")))
      .otherwise(concat(scheme, lit("://WWW."), col("source"),
        lit(".Example."), tld, port,
        lit("/A/./B/../docs/%7e"), col("doc_id"), lit("/x%2fy"),
        lit("?utm_source=feed&z=26&a=1&gclid=g"), col("doc_id"),
        lit("&m="), col("doc_id") % 5, lit("#sec-"), col("doc_id")))
    docs.withColumn("__c", UrlOps.canonicalizeStatsUdf(url))
      .select(col("doc_id"),
        col("__c.canonical").as("url_canonical"),
        UrlOps.registeredDomainUdf(UrlOps.hostUdf(col("__c.canonical")))
          .as("registered_domain"),
        col("__c.kept_params").cast("long").as("kept_params"),
        col("__c.dropped_params").cast("long").as("dropped_params"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q327
  /** Host-level link graph from HTML outlinks
    * ([[sources.HtmlSource.extractLinks]] + [[graft.functions.UrlOps]]
    * resolution): each document's page carries anchors in all three
    * attribute quote styles (double, single, bare), an upper-case
    * `HREF`, relative links with dot segments, absolute links with an
    * upper-case scheme/host, plus non-links that must NOT count (an
    * anchor inside a comment, one inside a `<script>` body, and a
    * `<a name=…>` with no href). Links resolve against the page's base
    * URI (RFC 3986 §5.2), fold to hosts, and aggregate to
    * (src_host, dst_host) edge weights — the boilerplate-to-PageRank
    * bridge of a web corpus. The oracle replays the edge list
    * analytically, so extraction tolerance, reference resolution, and
    * host folding are each load-bearing. One shuffle (the final
    * group-by), parse is per-row.
    */
  def q327LinkGraph(s: SparkSession, d: String): DataFrame = {
    import graft.functions.UrlOps
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val k1 = (col("doc_id") + 1) % 20
    val k2 = (col("doc_id") + 7) % 20
    val base = concat(lit("https://"), col("source"),
      lit(".example.org/docs/"), col("doc_id"), lit("/index.html"))
    val page = concat(
      lit("<html><head><title>d</title><script>var a = " +
        "'<a href=\"/not-a-link\">';</script></head><body>\n" +
        "<nav><a href=\"/\">Home</a> <a href='/about'>About</a> " +
        "<a href=contact.html>Contact</a></nav>\n<p>See <a href=\"../"),
      col("doc_id") * 2 % 100,
      lit("/\">rel</a> and <a href=\"https://src"), k1,
      lit(".example.org/docs/"), col("doc_id") + 1,
      lit("?a=1&amp;b=2\">x</a> <a HREF=\"HTTPS://SRC"), k2,
      lit(".EXAMPLE.ORG/d/"), col("doc_id") + 7,
      lit("#f\">y</a>.</p><!-- <a href=\"/in-comment\">no</a> -->" +
        "<a name=anchor>not a link</a></body></html>"))
    val pages = docs.select(col("doc_id"), col("source"),
      base.as("__base"), page.as("__html"))
    sources.HtmlSource.extractLinks(pages, "__html")
      .withColumn("__abs", UrlOps.resolveUdf(col("__base"), col("href")))
      .select(concat(col("source"), lit(".example.org")).as("src_host"),
        UrlOps.hostUdf(col("__abs")).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
      .orderBy(col("src_host"), col("dst_host"))
  }

  // ---------------------------------------------------------------- q328
  /** robots.txt crawl-compliance filter ([[graft.functions.RobotsTxt]],
    * RFC 9309): even-indexed sources publish a file whose `GraftBot`
    * group (two UA lines, mixed case, CRLF endings, inline comments)
    * must be chosen over both the `*` group and an `other` group that
    * disallows everything; odd-indexed sources have no named group, so
    * the crawler falls to `*` (which disallows `/docs/`). Paths cycle
    * through five shapes that each decide via a different rule:
    * longest-match between `Allow: /docs/` and `Disallow: /docs/4`,
    * plain prefix disallow, wildcard allow overriding a shorter
    * disallow, the `*.tmp$`-style wildcard+anchor rule, and the
    * anchor's negative case. Rules compile ONCE per source on the driver (20 files) and
    * ride a broadcast closure — the scale shape where robots number in
    * the domains and pages in the billions; verdicts are per-row,
    * shuffle-free. The oracle replays every verdict analytically.
    */
  def q328Robots(s: SparkSession, d: String): DataFrame = {
    import graft.functions.RobotsTxt
    def robotsFor(k: Int): String =
      if (k % 2 == 1)
        "User-agent: other\nDisallow: /\n\nUser-agent: *\nDisallow: /docs/\n"
      else
        "# graft fixture\r\nUser-agent: other\r\nDisallow: /\r\n\r\n" +
          "User-agent: *\r\nDisallow: /docs/\r\n\r\n" +
          "User-agent: GraftBot\r\nUser-agent: graftbot-img\r\n" +
          "Disallow: /private/ # staff only\r\n" +
          "Allow: /private/pub*\r\n" +
          "Disallow: /*.tmp$\r\n" +
          "Allow: /docs/\r\nDisallow: /docs/4\r\n"
    val rulesBySource: Map[String, RobotsTxt.Rules] =
      (0 until 20).map(k =>
        s"src$k" -> RobotsTxt.rulesFor(robotsFor(k), "graftbot/1.2")).toMap
    val verdict = udf { (source: String, path: String) =>
      rulesBySource.get(source).forall(r => RobotsTxt.isAllowed(r, path))
    }
    val path = when(col("doc_id") % 5 === 0,
        concat(lit("/docs/"), col("doc_id")))
      .when(col("doc_id") % 5 === 1, concat(lit("/private/doc"), col("doc_id")))
      .when(col("doc_id") % 5 === 2, concat(lit("/private/pub"), col("doc_id")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("/tmp/file"), col("doc_id"), lit(".tmp")))
      .otherwise(concat(lit("/tmp/file"), col("doc_id"), lit(".tmp2")))
    documents(s, d).select(col("doc_id"), col("source"), path.as("path"))
      .withColumn("allowed", verdict(col("source"), col("path")).cast("long"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q329
  /** SURT crawl-frontier collapse ([[graft.functions.UrlOps.surt]]):
    * every document is seen three times as DIFFERENT messy URLs —
    * upper-case scheme/host with a dot segment, shuffled params and a
    * tracking key; an explicit default `:443` port with a `../`
    * segment, another tracker and a fragment; a trailing-dot host —
    * that must collapse to ONE canonical form and therefore ONE SURT
    * index key (host labels reversed, non-default port kept, key
    * lower-cased, scheme-free). The frontier keeps the earliest crawl
    * day per key, and each variant carries a different day schedule so
    * the min is not positional. The oracle predicts the SURT string
    * and winning day analytically — canonical-equivalence of all
    * three variants is what makes the 3-candidate count hash-match.
    * One shuffle (the key group-by); candidate generation is a
    * per-row explode, no driver work.
    */
  def q329SurtFrontier(s: SparkSession, d: String): DataFrame = {
    import graft.functions.UrlOps
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("lang"))
    val tld = when(col("lang") === "en", "co.uk")
      .when(col("lang") === "de", "de").when(col("lang") === "es", "es")
      .when(col("lang") === "fr", "fr").otherwise("com.cn")
    val m = col("doc_id") % 5
    val p8080 = col("doc_id") % 4 === 2
    val portA = when(p8080, ":8080").otherwise("")
    val portB = when(p8080, ":8080").otherwise(":443")
    val vA = concat(lit("HTTPS://WWW."), upper(col("source")),
      lit(".EXAMPLE."), upper(tld), portA, lit("/d/./"), col("doc_id"),
      lit("?b="), m, lit("&a=1&utm_source=x"))
    val vB = concat(lit("https://www."), col("source"), lit(".example."),
      tld, portB, lit("/x/../d/"), col("doc_id"),
      lit("?a=1&utm_medium=y&b="), m, lit("#top"))
    val vC = concat(lit("https://www."), col("source"), lit(".example."),
      tld, lit("."), portA, lit("/d/"), col("doc_id"),
      lit("?b="), m, lit("&a=1"))
    docs.select(col("doc_id"),
        posexplode(array(vA, vB, vC)).as(Seq("k", "url")))
      .withColumn("crawl_day",
        lit(1) + (col("doc_id") + col("k") * 7) % 27)
      .withColumn("surt",
        UrlOps.surtUdf(UrlOps.canonicalizeUdf(col("url"))))
      .groupBy(col("surt"))
      .agg(count(lit(1)).as("n_candidates"),
        min(col("crawl_day")).cast("long").as("first_day"))
      .orderBy(col("surt"))
  }

  private[graft] def queriesSources: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_multimodal_meta" -> (q29MultimodalMeta _),
    "q30_src_csv" -> (q30SrcCsv _),
    "q31_src_json" -> (q31SrcJson _),
    "q32_src_xml" -> (q32SrcXml _),
    "q33_src_yaml" -> (q33SrcYaml _),
    "q34_src_vcf" -> (q34SrcVcf _),
    "q35_src_compressed" -> (q35SrcCompressed _),
    "q36_table_names" -> (q36TableNames _),
    "q38_src_xlsx" -> (q38SrcXlsx _),
    "q39_src_ods" -> (q39SrcOds _),
    "q40_src_kdbx" -> (q40SrcKdbx _),
    "q42_src_xls" -> (q42SrcXls _),
    "q62_image_decode" -> (q62ImageDecode _),
    "q66_audio_decode" -> (q66AudioDecode _),
    "q94_video_frames" -> (q94VideoFrames _),
    "q141_silence_spans" -> (q141SilenceSpans _),
    "q142_image_dhash" -> (q142ImageDhash _),
    "q149_scene_change" -> (q149SceneChange _),
    "q154_dhash_hamming" -> (q154DhashHamming _),
    "q323_html_extract" -> (q323HtmlExtract _),
    "q325_src_warc" -> (q325SrcWarc _),
    "q326_url_canonical" -> (q326UrlCanonical _),
    "q327_link_graph" -> (q327LinkGraph _),
    "q328_robots" -> (q328Robots _),
    "q329_surt_frontier" -> (q329SurtFrontier _))

  private[graft] def oracleSqlSources: Map[String, String] = Map(
    "q329_surt_frontier" ->
      // the collapse replayed analytically: all three messy variants
      // reduce to one canonical URL, so each doc owns exactly one SURT
      // key with 3 candidates; the winning crawl day is the least of
      // the three per-variant schedules, not the first-listed one
      """WITH b AS (SELECT doc_id, source,
        |  CASE lang WHEN 'en' THEN 'uk,co' WHEN 'de' THEN 'de'
        |    WHEN 'es' THEN 'es' WHEN 'fr' THEN 'fr' ELSE 'cn,com' END
        |    AS rtld,
        |  doc_id % 5 AS m FROM documents)
        |SELECT rtld || ',example,' || source || ',www'
        |    || (CASE WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END)
        |    || ')/d/' || CAST(doc_id AS VARCHAR) || '?a=1&b='
        |    || CAST(m AS VARCHAR) AS surt,
        |  CAST(3 AS BIGINT) AS n_candidates,
        |  CAST(1 + least(doc_id % 27, (doc_id + 7) % 27,
        |    (doc_id + 14) % 27) AS BIGINT) AS first_day
        |FROM b ORDER BY surt""".stripMargin,
    "q328_robots" ->
      // every verdict replayed analytically: odd sources fall to the
      // `*` group (only /docs/ disallowed); even sources use the
      // GraftBot group, where each path shape decides via a different
      // rule (longest-match /docs/4 vs /docs/, prefix disallow,
      // wildcard allow override, anchored /*.tmp$, anchor miss)
      """WITH d AS (SELECT doc_id, source,
        |  CAST(substr(source, 4, 10) AS INTEGER) % 2 AS odd,
        |  doc_id % 5 AS m FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN m = 0 THEN '/docs/' || CAST(doc_id AS VARCHAR)
        |       WHEN m = 1 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
        |       WHEN m = 2 THEN '/private/pub' || CAST(doc_id AS VARCHAR)
        |       WHEN m = 3 THEN '/tmp/file' || CAST(doc_id AS VARCHAR)
        |         || '.tmp'
        |       ELSE '/tmp/file' || CAST(doc_id AS VARCHAR) || '.tmp2' END
        |    AS path,
        |  CAST(CASE WHEN odd = 1 THEN (CASE WHEN m = 0 THEN 0 ELSE 1 END)
        |    ELSE CASE WHEN m = 0 THEN
        |           (CASE WHEN CAST(doc_id AS VARCHAR) LIKE '4%'
        |                 THEN 0 ELSE 1 END)
        |         WHEN m = 1 THEN 0 WHEN m = 2 THEN 1
        |         WHEN m = 3 THEN 0 ELSE 1 END END AS BIGINT) AS allowed
        |FROM d ORDER BY doc_id""".stripMargin,
    "q327_link_graph" ->
      // the page template's true links replayed analytically: four
      // same-host (nav "/", "/about", bare contact.html, the ../ rel
      // link) and two cross-host (k+1, k+7 mod 20); the comment,
      // script-body, and href-less anchors contribute nothing
      """WITH d AS (SELECT doc_id, source FROM documents),
        |e AS (
        |  SELECT source || '.example.org' AS src_host,
        |         source || '.example.org' AS dst_host, 4 AS n FROM d
        |  UNION ALL
        |  SELECT source || '.example.org',
        |    'src' || CAST((doc_id + 1) % 20 AS VARCHAR) || '.example.org',
        |    1 FROM d
        |  UNION ALL
        |  SELECT source || '.example.org',
        |    'src' || CAST((doc_id + 7) % 20 AS VARCHAR) || '.example.org',
        |    1 FROM d)
        |SELECT src_host, dst_host, CAST(sum(n) AS BIGINT) AS n_links
        |FROM e GROUP BY src_host, dst_host
        |ORDER BY src_host, dst_host""".stripMargin,
    "q326_url_canonical" ->
      // predicts every canonicalization rule's output analytically:
      // folded scheme/host, :8080 kept while default ports drop,
      // /A/./B/../ resolved, %7e decoded + %2f upper-cased, tracking
      // params dropped, the rest (a,m,z) key-sorted, fragment gone;
      // scheme-less junk rows canonicalize to NULL
      """WITH b AS (SELECT doc_id, source,
        |  CASE lang WHEN 'en' THEN 'co.uk' WHEN 'de' THEN 'de'
        |    WHEN 'es' THEN 'es' WHEN 'fr' THEN 'fr' ELSE 'com.cn' END
        |    AS tld FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 9 THEN NULL ELSE
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
        |    || '://www.' || source || '.example.' || tld
        |    || (CASE WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END)
        |    || '/A/docs/~' || CAST(doc_id AS VARCHAR) || '/x%2Fy?a=1&m='
        |    || CAST(doc_id % 5 AS VARCHAR) || '&z=26' END AS url_canonical,
        |  CASE WHEN doc_id % 10 = 9 THEN NULL
        |       ELSE 'example.' || tld END AS registered_domain,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN NULL ELSE 3 END AS BIGINT)
        |    AS kept_params,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN NULL ELSE 2 END AS BIGINT)
        |    AS dropped_params
        |FROM b ORDER BY doc_id""".stripMargin,
    "q325_src_warc" ->
      // the archive round-trip replayed analytically: doc_id % 3 picks
      // the record shape (conversion / content-length response /
      // chunked UTF-16BE response); framing and decode must restore
      // the exact text for the md5 to survive
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'conversion' ELSE 'response' END
        |    AS rec_type,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 200 END AS BIGINT)
        |    AS status,
        |  CASE WHEN doc_id % 3 = 2 THEN 'utf-16be' ELSE 'utf-8' END
        |    AS charset,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(DATE '2026-01-01' + CAST(doc_id % 28 AS INTEGER) AS TIMESTAMP)
        |    AS warc_day,
        |  md5(text) AS body_md5
        |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,
    "q323_html_extract" ->
      // predicts the HTML round-trip analytically: the page template
      // contributes 5 fixed blocks (nav, aside, h1 — 2 words, the
      // all-link div, footer), none content (structural prune /
      // word-count / link-density); the two <p> halves of the
      // word-split text are the only content candidates (>= 5 words)
      """WITH d AS (SELECT doc_id,
        |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
        |q AS (SELECT doc_id, len(ws) AS n, (len(ws) + 1) // 2 AS h, ws FROM w),
        |p AS (SELECT doc_id, n, h,
        |  array_to_string(list_slice(ws, 1, h), ' ') AS p1,
        |  array_to_string(list_slice(ws, h + 1, n), ' ') AS p2 FROM q),
        |c AS (SELECT doc_id, n, h, p1, p2,
        |  CASE WHEN h >= 5 AND n - h >= 5 THEN p1 || ' ' || p2
        |       WHEN h >= 5 THEN p1 WHEN n - h >= 5 THEN p2
        |       ELSE '' END AS content FROM p)
        |SELECT doc_id,
        |  CAST(5 + (CASE WHEN p1 <> '' THEN 1 ELSE 0 END)
        |         + (CASE WHEN p2 <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
        |  CAST((CASE WHEN h >= 5 THEN 1 ELSE 0 END)
        |     + (CASE WHEN n - h >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_content,
        |  CAST(h * (CASE WHEN h >= 5 THEN 1 ELSE 0 END)
        |     + (n - h) * (CASE WHEN n - h >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS content_words,
        |  CAST(len(content) AS BIGINT) AS content_len,
        |  md5(content) AS content_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "q29_multimodal_meta" ->
      """WITH media AS (SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        | encode(text) AS payload FROM documents)
        |SELECT doc_id, media_type, octet_length(payload) AS byte_len,
        | upper(substr(hex(payload), 1, 16)) AS header_hex,
        | md5(upper(hex(payload))) AS content_md5
        |FROM media ORDER BY doc_id""".stripMargin,
    "q30_src_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q31_src_json" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "q32_src_xml" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q33_src_yaml" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q34_src_vcf" ->
      """SELECT 'First' || c_custkey AS firstname, 'Cust' || c_custkey AS lastname,
        | 'First' || c_custkey || ' Cust' || c_custkey AS formatted_name,
        | '+490000' || c_custkey AS phone_1, 'CELL' AS phone_1_attr
        |FROM customer WHERE c_custkey % 97 = 0 ORDER BY lastname""".stripMargin,
    "q35_src_compressed" ->
      """SELECT v.variant, n.n_nationkey, n.n_name, n.n_regionkey
        |FROM nation n CROSS JOIN
        | (VALUES ('aeszip'), ('gz'), ('pwzip'), ('tgz'), ('zip')) v(variant)
        |ORDER BY v.variant, n.n_nationkey""".stripMargin,
    "q36_table_names" ->
      "SELECT n_nationkey, lower(n_name) AS table_name FROM nation ORDER BY n_nationkey",
    "q38_src_xlsx" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q39_src_ods" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q40_src_kdbx" ->
      """SELECT 'cust' || c_custkey AS title, c_name AS username,
        | c_mktsegment AS notes
        |FROM customer WHERE c_custkey % 101 = 0 ORDER BY title""".stripMargin,
    "q42_src_xls" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q62_image_decode" ->
      """SELECT p_partkey AS media_id,
        | CAST(8 + p_partkey % 24 AS BIGINT) AS width,
        | CAST(8 + p_partkey % 17 AS BIGINT) AS height,
        | CAST(p_partkey % 256 AS DOUBLE) AS mean_r,
        | CAST(p_partkey * 7 % 256 AS DOUBLE) AS mean_g,
        | CAST(p_partkey * 13 % 256 AS DOUBLE) AS mean_b
        |FROM part WHERE p_partkey % 7 = 0 ORDER BY media_id""".stripMargin,
    "q66_audio_decode" ->
      """SELECT s_suppkey AS media_id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(4000 + s_suppkey % 50 * 100 AS BIGINT) AS n_samples,
        | CAST(1000 + s_suppkey * 31 % 20000 AS DOUBLE) AS rms
        |FROM supplier WHERE s_suppkey % 3 = 0 ORDER BY media_id""".stripMargin,
    "q94_video_frames" ->
      """WITH s AS (SELECT s_suppkey AS media_id FROM supplier
        |  WHERE s_suppkey % 4 = 0),
        |f AS (SELECT media_id,
        |  unnest(range(0, 6 + media_id % 5, 2)) AS frame_idx FROM s)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(32 + (media_id % 3) * 16 AS BIGINT) AS width,
        | CAST(24 AS BIGINT) AS height,
        | CAST((media_id * 37 + frame_idx * 11) % 256 AS DOUBLE) AS mean_r,
        | CAST((media_id * 53 + frame_idx * 23) % 256 AS DOUBLE) AS mean_g,
        | CAST((media_id * 71 + frame_idx * 5) % 256 AS DOUBLE) AS mean_b
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "q141_silence_spans" ->
      // burst geometry replayed analytically: a 160-sample frame is
      // silent iff its first and last samples fall in the SAME burst
      // and that burst index is odd (bursts alternate active/silent);
      // spans are the standard gaps-and-islands rewrite
      """WITH m AS (SELECT s_suppkey AS media_id,
        |    4000 + s_suppkey % 50 * 100 AS n_samples,
        |    400 + s_suppkey % 5 * 80 AS blen
        |  FROM supplier WHERE s_suppkey % 3 = 0),
        |f AS (SELECT media_id, blen, n_samples,
        |    unnest(generate_series(0, (n_samples + 159) // 160 - 1)) AS frame_idx
        |  FROM m),
        |fl AS (SELECT media_id, frame_idx,
        |    (160 * frame_idx) // blen AS s0,
        |    (least(160 * frame_idx + 160, n_samples) - 1) // blen AS s1
        |  FROM f),
        |sil AS (SELECT media_id, frame_idx FROM fl
        |        WHERE s0 = s1 AND s0 % 2 = 1),
        |isl AS (SELECT media_id, frame_idx,
        |    frame_idx - row_number() OVER (PARTITION BY media_id
        |      ORDER BY frame_idx) AS grp
        |  FROM sil),
        |sp AS (SELECT media_id, min(frame_idx) AS start_frame,
        |    max(frame_idx) AS end_frame, CAST(count(*) AS BIGINT) AS n_frames
        |  FROM isl GROUP BY media_id, grp)
        |SELECT media_id,
        |  CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_frame)
        |    AS BIGINT) AS span_idx,
        |  start_frame, end_frame, n_frames
        |FROM sp ORDER BY media_id, span_idx""".stripMargin,
    "q142_image_dhash" ->
      // every hash bit replayed from the fixture's cell formula: the
      // planted +1 shift cancels out of all adjacent-cell comparisons,
      // so hashing the shared seed reproduces both pair members' dHash
      """WITH keys AS (SELECT p_partkey AS k, p_partkey - p_partkey % 10 AS kb
        |  FROM part WHERE p_partkey % 5 = 0),
        |g AS (SELECT DISTINCT kb FROM keys),
        |cells AS (SELECT kb, gx, gy
        |  FROM g CROSS JOIN range(9) t1(gx) CROSS JOIN range(8) t2(gy)),
        |vals AS (SELECT kb, gx, gy,
        |    (kb*31 + gx*17 + gy*29 + gx*gy*7
        |     + (kb % 251)*gx*13 + (kb % 241)*gy*11) % 255 AS v
        |  FROM cells),
        |bits AS (SELECT a.kb, a.gy*8 + a.gx AS i,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM vals a JOIN vals b
        |    ON b.kb = a.kb AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |hs AS (SELECT kb,
        |    CAST(SUM(CASE WHEN i >= 32
        |      THEN bit * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
        |      AS hash_hi,
        |    CAST(SUM(CASE WHEN i < 32
        |      THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
        |      AS hash_lo
        |  FROM bits GROUP BY kb),
        |h AS (SELECT keys.k, hs.hash_hi, hs.hash_lo
        |  FROM keys JOIN hs ON hs.kb = keys.kb)
        |SELECT a.k AS id_a, b.k AS id_b, a.hash_hi, a.hash_lo
        |FROM h a JOIN h b
        |  ON a.hash_hi = b.hash_hi AND a.hash_lo = b.hash_lo AND a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin,
    "q149_scene_change" ->
      // frame colors replayed from the fixture formula (solid lossless
      // frames => decoded means ARE the colors); cuts + gaps-islands
      """WITH m AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
        |           WHERE s_suppkey % 5 = 1),
        |f AS (SELECT k, unnest(generate_series(0,
        |        CAST(12 + k % 7 AS INT) - 1)) AS fi FROM m),
        |c AS (SELECT k AS media_id, fi AS frame_idx,
        |    (k * 37 + (fi // (3 + k % 3)) * 89) % 254 + fi % 2 AS r,
        |    (k * 53 + (fi // (3 + k % 3)) * 131) % 254 + fi % 2 AS g,
        |    (k * 71 + (fi // (3 + k % 3)) * 17) % 254 + fi % 2 AS b
        |  FROM f),
        |d AS (SELECT media_id, frame_idx,
        |    abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w)
        |      + abs(b - lag(b) OVER w) AS delta
        |  FROM c WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
        |sc AS (SELECT media_id, frame_idx,
        |    sum(CASE WHEN delta IS NULL OR delta > 30 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY media_id ORDER BY frame_idx) AS scene_idx
        |  FROM d)
        |SELECT media_id, CAST(scene_idx AS BIGINT) AS scene_idx,
        |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |  CAST(max(frame_idx) AS BIGINT) AS end_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames
        |FROM sc GROUP BY media_id, scene_idx
        |ORDER BY media_id, scene_idx""".stripMargin,
    "q154_dhash_hamming" ->
      // hash bits replayed from the cell formula WITH the single-cell
      // bump; brute-force Hamming join — by pigeonhole the 4-band
      // multi-index candidate set is lossless at distance <= 3
      """WITH keys AS (SELECT CAST(p_partkey AS BIGINT) AS k,
        |    CAST(p_partkey - p_partkey % 10 AS BIGINT) AS kb
        |  FROM part WHERE p_partkey % 5 = 2),
        |cells AS (SELECT k, kb, gx, gy, k % 10 = 7 AS mut
        |  FROM keys CROSS JOIN range(9) t1(gx) CROSS JOIN range(8) t2(gy)),
        |vals AS (SELECT k, gx, gy,
        |    (kb*31 + gx*17 + gy*29 + gx*gy*7
        |     + (kb % 251)*gx*13 + (kb % 241)*gy*11
        |     + CASE WHEN mut AND gx = (kb // 10) % 9 AND gy = (kb // 10) % 8
        |            THEN 120 ELSE 0 END) % 255 AS v
        |  FROM cells),
        |bits AS (SELECT a.k, a.gy*8 + a.gx AS i,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM vals a JOIN vals b
        |    ON b.k = a.k AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |h AS (SELECT k,
        |    CAST(SUM(CASE WHEN i >= 32
        |      THEN bit * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
        |      AS hi,
        |    CAST(SUM(CASE WHEN i < 32
        |      THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY k)
        |SELECT a.k AS id_a, b.k AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |    AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.k < b.k
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
        |ORDER BY id_a, id_b""".stripMargin)
}
