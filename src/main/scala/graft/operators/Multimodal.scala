package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column support: image/audio/video payloads ride through the
  * engine as opaque `binary` columns with typed metadata. The Spark-side
  * plumbing (schema, partition-preserving batch decode via
  * `mapPartitions`, metadata extraction as pure expressions) is real and
  * tested. IMAGE decode is REAL — `javax.imageio` ships in the JDK
  * (PNG/BMP/GIF/JPEG readers), so [[decodeImage]] and [[imageFeatures]]
  * run an actual pixel pipeline. AUDIO decode is REAL for PCM WAV —
  * `javax.sound.sampled` ships in the JDK ([[decodeAudio]],
  * [[audioFeatures]]). VIDEO decode is REAL for uncompressed RIFF/AVI
  * with BI_RGB DIB frames ([[decodeVideoFrames]], [[videoFrameFeatures]]
  * — a hand-rolled RIFF chunk walker, no codec library needed).
  * Compressed-codec audio and video need an external decoder (JavaCV,
  * ffmpeg-pipe); the JDK ships none.
  */
object Multimodal {

  // in-memory streams for ImageIO: the default disk-backed stream cache
  // writes a temp FILE per encode/decode (plus registry locking) — a
  // silent 10x tax on per-record image work in every executor
  javax.imageio.ImageIO.setUseCache(false)

  /** One media payload. `payload` is the opaque binary column. */
  case class MediaRecord(media_id: Long, media_type: String, payload: Array[Byte])

  /** Pure-expression metadata over a binary column — byte length, header
    * prefix and content hash; runs codegen'd inside the scan.
    * (DuckDB has no md5(BLOB), so the content hash is md5 of the
    * uppercase hex — portable.)
    */
  def withBinaryMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("byte_len", octet_length(col(binCol)).cast("long"))
      .withColumn("header_hex", upper(substring(hex(col(binCol)), 1, 16)))
      .withColumn("content_md5", md5(upper(hex(col(binCol)))))

  /** Decoded image features: real dimensions + per-channel means. */
  case class ImageFeatures(media_id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL image decode via the JDK's ImageIO (PNG/BMP/GIF/JPEG). Returns
    * None for payloads no installed reader accepts. Channel means are
    * exact-integer sums divided once — deterministic across runs and
    * engines.
    */
  def decodeImage(bytes: Array[Byte]): Option[ImageFeatures] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = img.getWidth.toLong * img.getHeight
      Some(ImageFeatures(0L, img.getWidth, img.getHeight,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
    }
  }

  /** Batch image feature extraction: partition-preserving
    * `mapPartitions` (a decoder amortizes per-batch setup, as a
    * Pandas-UDF batch would); undecodable payloads drop (a production
    * pipeline would route them to an error channel).
    */
  def imageFeatures(ds: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r =>
      decodeImage(r.payload).map(_.copy(media_id = r.media_id))))
  }

  /** Deterministic PNG fixture: a solid `(r,g,b)` image of `w`×`h` —
    * lossless encode, so decode recovers the exact constructed pixels
    * (what lets an external oracle predict decode output analytically).
    */
  def solidPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Perceptual difference-hash of a decoded image, split into two
    * unsigned-32-bit halves so the 64 bits survive engines without
    * unsigned integers.
    */
  case class ImageHash(media_id: Long, width: Int, height: Int,
                       hash_hi: Long, hash_lo: Long)

  /** REAL perceptual dHash: decode via ImageIO, box-filter down to a
    * `gw`×`gh` luminance grid with EXACT integer cell sums (sum of
    * r+g+b over the cell's pixel block — no float average, so two
    * engines agree bit-for-bit), then one bit per horizontally
    * adjacent cell pair: `bit(gx,gy) = 1` iff the right cell's sum is
    * strictly greater. Bit index `i = gy*(gw-1)+gx`; bits ≥ 32 land in
    * `hash_hi`. Raw-sum comparison equals the textbook mean comparison
    * when `width % gw == 0 && height % gh == 0` (equal cell areas) —
    * the intended use is hashing images resized to, or fixtures built
    * on, a multiple of the grid. A uniform brightness shift
    * leaves every comparison unchanged, which is exactly the
    * invariance a byte-level hash (md5) lacks.
    */
  def dHash(bytes: Array[Byte], gw: Int = 9, gh: Int = 8): Option[ImageHash] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null || img.getWidth < gw || img.getHeight < gh) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val sums = Array.ofDim[Long](gh, gw)
      var gy = 0
      while (gy < gh) {
        val y0 = gy * h / gh; val y1 = (gy + 1) * h / gh
        var gx = 0
        while (gx < gw) {
          val x0 = gx * w / gw; val x1 = (gx + 1) * w / gw
          var s = 0L; var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val p = img.getRGB(x, y)
              s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              x += 1
            }
            y += 1
          }
          sums(gy)(gx) = s
          gx += 1
        }
        gy += 1
      }
      var hi = 0L; var lo = 0L
      var yy = 0
      while (yy < gh) {
        var xx = 0
        while (xx < gw - 1) {
          if (sums(yy)(xx + 1) > sums(yy)(xx)) {
            val i = yy * (gw - 1) + xx
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          xx += 1
        }
        yy += 1
      }
      Some(ImageHash(0L, w, h, hi, lo))
    }
  }

  /** Batch perceptual hashing — partition-preserving like
    * [[imageFeatures]]; undecodable or sub-grid payloads drop.
    */
  def imageDHashes(ds: Dataset[MediaRecord],
                   gw: Int = 9, gh: Int = 8): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r =>
      dHash(r.payload, gw, gh).map(_.copy(media_id = r.media_id))))
  }

  /** Near-duplicate image pairs within Hamming distance `maxHamming`
    * of the 64-bit dHash, via the multi-index (pigeonhole) trick
    * (Norouzi et al., "Fast search in Hamming space with multi-index
    * hashing", CVPR'12): split the hash into 4 disjoint 16-bit bands —
    * any pair within distance ≤ 3 agrees EXACTLY on at least one band,
    * so candidates come from 4 equi-joins on band values (hash
    * shuffles, O(n) each plus true-collision fan-out) and the full
    * 64-bit popcount only runs on candidates. Exact recall by
    * pigeonhole for `maxHamming ≤ 3` — never an n² Hamming scan.
    * Input must carry `media_id, hash_hi, hash_lo` (two 32-bit
    * halves); returns `(id_a, id_b, hamming)`.
    */
  def nearDupDHashPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band multi-index guarantees recall only for maxHamming <= 3, got $maxHamming")
    val mask = lit(0xFFFFL)
    val banded = hashes.select(col("media_id"), col("hash_hi"), col("hash_lo"))
      .withColumn("__band", explode(array(
        struct(lit(0).as("bi"), col("hash_lo").bitwiseAND(mask).as("bv")),
        struct(lit(1).as("bi"),
          shiftright(col("hash_lo"), 16).bitwiseAND(mask).as("bv")),
        struct(lit(2).as("bi"), col("hash_hi").bitwiseAND(mask).as("bv")),
        struct(lit(3).as("bi"),
          shiftright(col("hash_hi"), 16).bitwiseAND(mask).as("bv")))))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        col("__band.bi").as("bi"), col("__band.bv").as("bv"))
    banded.as("a").join(banded.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.hash_hi").as("ha"), col("a.hash_lo").as("la"),
        col("b.hash_hi").as("hb"), col("b.hash_lo").as("lb"))
      .distinct() // a pair may collide on several bands
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Deterministic block-gradient PNG fixture: a `gw`×`gh` grid of
    * `cell`×`cell` constant-gray blocks with
    * `v(gx,gy) = (seed*31 + gx*17 + gy*29 + gx*gy*7 + (seed%251)*gx*13
    * + (seed%241)*gy*11) % 255 + delta` (gray = all three channels;
    * the cross terms over the coprime moduli 255/251/241 give each
    * seed below their ~1.5e7 lcm a unique per-cell signature, so
    * distinct seeds get distinct hash bit patterns rather than a
    * shared gradient signature with period 255). Lossless
    * encode on a multiple of the dHash grid, so [[dHash]]'s cell sums
    * recover `48·v` exactly and an external oracle can replay every
    * hash bit from the seed formula. `delta ∈ {0,1}` plants a
    * near-duplicate: different bytes (md5 differs) but an identical
    * dHash, since a uniform shift preserves all adjacent-cell
    * comparisons.
    */
  def gridPng(seed: Long, delta: Int, gw: Int = 9, gh: Int = 8,
              cell: Int = 4, bumpGx: Int = -1, bumpGy: Int = -1,
              bumpDelta: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(gw * cell, gh * cell,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        // the optional single-cell bump (inside the mod, before the
        // uniform delta) perturbs at most the 2 adjacent-cell
        // comparisons of that cell: a controlled small-Hamming mutant
        val bump = if (gx == bumpGx && gy == bumpGy) bumpDelta else 0
        val v = ((seed * 31 + gx * 17 + gy * 29 + gx * gy * 7 +
          (seed % 251) * gx * 13 + (seed % 241) * gy * 11 + bump) % 255
          + delta).toInt
        val rgb = (v << 16) | (v << 8) | v
        var y = gy * cell
        while (y < (gy + 1) * cell) {
          var x = gx * cell
          while (x < (gx + 1) * cell) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        gx += 1
      }
      gy += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Decoded audio features (PCM WAV): real format + signal stats. */
  case class AudioFeatures(media_id: Long, sample_rate: Int, channels: Int,
                           n_samples: Long, rms: Double)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (PCM WAV
    * ships in the JDK — no codec library). Returns None for payloads no
    * installed reader accepts. RMS is over raw 16-bit sample units with
    * exact integer squares summed in double (< 2^53), one division, one
    * sqrt — deterministic across engines.
    */
  def decodeAudio(bytes: Array[Byte]): Option[AudioFeatures] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16)
        val data = in.readAllBytes()
        val bb = java.nio.ByteBuffer.wrap(data).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        var sumSq = 0.0
        var n = 0L
        while (bb.remaining() >= 2) {
          val s = bb.getShort.toDouble
          sumSq += s * s
          n += 1
        }
        val frames = n / fmt.getChannels
        Some(AudioFeatures(0L, fmt.getSampleRate.toInt, fmt.getChannels, frames,
          if (n == 0) 0.0 else math.sqrt(sumSq / n)))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Batch audio feature extraction — partition-preserving, undecodable
    * payloads drop (production would route them to an error channel).
    */
  def audioFeatures(ds: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r =>
      decodeAudio(r.payload).map(_.copy(media_id = r.media_id))))
  }

  /** Deterministic 16-bit mono PCM WAV fixture: a square wave of
    * constant amplitude — RMS over raw sample units equals the amplitude
    * EXACTLY (A²·n/n is a perfect square in double), so an external
    * oracle predicts decode output analytically.
    */
  def squareWav(sampleRate: Int, amplitude: Int, nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      bb.putShort((if (i % 2 == 0) amplitude else -amplitude).toShort)
      i += 1
    }
    bb.array()
  }

  /** One fixed-length analysis frame of decoded PCM: exact integer
    * energy (sum of squared 16-bit sample units — ≤ 2^30 per sample, so
    * a long holds any frame under ~2^33 samples).
    */
  case class AudioFrame(media_id: Long, frame_idx: Long, n_samples: Long,
                        sum_sq: Long)

  /** REAL per-frame energy extraction: decode the PCM payload (same JDK
    * reader as [[decodeAudio]]) and emit one row per `frameSamples`-long
    * analysis frame (the tail frame may be short). The silence gate
    * downstream ([[silenceSpans]]) is then pure declarative work — the
    * mapPartitions boundary ends at the frame table, exactly like
    * [[videoFrames]]' decode/declare split.
    */
  def audioFrameEnergy(ds: Dataset[MediaRecord],
                       frameSamples: Int): Dataset[AudioFrame] = {
    require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        try {
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1)
          val data = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(data).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val frames = scala.collection.mutable.ArrayBuffer.empty[AudioFrame]
          var idx = 0L
          while (bb.remaining() >= 2) {
            var n = 0L
            var sq = 0L
            while (n < frameSamples && bb.remaining() >= 2) {
              val s = bb.getShort.toLong
              sq += s * s
              n += 1
            }
            frames += AudioFrame(r.media_id, idx, n, sq)
            idx += 1
          }
          frames
        } finally in.close()
      } catch { case _: Exception => Nil }
    })
  }

  /** Silence spans from per-frame energies: maximal runs of consecutive
    * frames with `sum_sq <= threshold` →
    * `(media_id, span_idx, start_frame, end_frame, n_frames)` — the
    * voice-activity-detection shape speech curation needs (strip or
    * segment on silence). Gaps-and-islands: `frame_idx − row_number`
    * is constant exactly per run, so one media-partitioned window plus
    * a hash aggregation finds every span — no self-join, no iteration.
    */
  def silenceSpans(frames: Dataset[AudioFrame], threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    val wSpan = Window.partitionBy(col("media_id")).orderBy(col("start_frame"))
    frames.toDF()
      .filter(col("sum_sq") <= threshold)
      .withColumn("__grp",
        col("frame_idx") - row_number().over(wRun))
      .groupBy(col("media_id"), col("__grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .withColumn("span_idx", row_number().over(wSpan).cast("long"))
      .select(col("media_id"), col("span_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"))
  }

  /** Deterministic 16-bit mono PCM WAV with alternating ACTIVE/SILENT
    * bursts of `burstLen` samples (active bursts are the
    * [[squareWav]] square wave, silent bursts are true zeros) — the
    * fixture for silence detection: which analysis frames are silent
    * is a closed-form function of (burstLen, frame length), so an
    * external oracle predicts the spans analytically while the
    * operator decodes the real bytes.
    */
  def burstWav(sampleRate: Int, amplitude: Int, nSamples: Int,
               burstLen: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      val silent = (i / burstLen) % 2 == 1
      bb.putShort(
        if (silent) 0.toShort
        else (if (i % 2 == 0) amplitude else -amplitude).toShort)
      i += 1
    }
    bb.array()
  }

  /** One decoded (sampled) video frame: real dimensions + exact
    * per-channel means.
    */
  case class VideoFrame(media_id: Long, frame_idx: Long, width: Int, height: Int,
                        mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL video decode for uncompressed RIFF/AVI (BI_RGB 24-bit DIB
    * frames — the only video container parseable with zero codec
    * libraries): walks the RIFF chunk tree, takes width/height/bit depth
    * from the `strf` BITMAPINFOHEADER, and reads every `stride`-th
    * `00db`/`00dc` frame in the `movi` list (bottom-up BGR rows, 4-byte
    * padded). Channel means are exact integer sums with one division.
    * Returns Nil for anything that isn't an uncompressed AVI —
    * compressed codecs still need an external decoder.
    */
  def decodeVideoFrames(bytes: Array[Byte], stride: Int): Seq[VideoFrame] = {
    require(stride >= 1, s"frame stride must be >= 1, got $stride")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    try {
      if (fourcc() != "RIFF") return Nil
      bb.getInt // riff size
      if (fourcc() != "AVI ") return Nil
      var width = 0; var height = 0; var bitCount = 0; var compression = -1
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (pos, len)
      def walk(end: Int): Unit = {
        while (bb.position() + 8 <= end) {
          val id = fourcc()
          val len = bb.getInt
          val next = bb.position() + len + (len & 1) // chunks word-align
          if (id == "LIST") {
            val listType = fourcc()
            // 'rec ' is the standard interleaved-frame record wrapper
            if (listType == "hdrl" || listType == "strl" || listType == "movi" ||
                listType == "rec ")
              walk(bb.position() + len - 4)
          } else if (id == "strf" && len >= 40) {
            bb.getInt // biSize
            width = bb.getInt
            height = bb.getInt
            bb.getShort // planes
            bitCount = bb.getShort
            compression = bb.getInt
          } else if (id == "00db" || id == "00dc") {
            frames += ((bb.position(), len))
          }
          bb.position(math.min(next, end))
        }
      }
      walk(bytes.length)
      if (width <= 0 || height <= 0 || bitCount != 24 || compression != 0) return Nil
      val rowSize = ((width * 3 + 3) / 4) * 4
      frames.toSeq.zipWithIndex
        .filter { case (_, idx) => idx % stride == 0 }
        .flatMap { case ((pos, len), idx) =>
          if (len < rowSize * height) None
          else {
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < height) {
              var x = 0
              val row = pos + y * rowSize
              while (x < width) {
                val p = row + x * 3 // bottom-up order doesn't change means
                sb += bytes(p) & 0xff
                sg += bytes(p + 1) & 0xff
                sr += bytes(p + 2) & 0xff
                x += 1
              }
              y += 1
            }
            val n = width.toLong * height
            Some(VideoFrame(0L, idx.toLong, width, height,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
          }
        }
    } catch { case _: Exception => Nil }
  }

  /** Batch sampled-frame extraction: partition-preserving, one row per
    * sampled frame, undecodable payloads drop.
    */
  def videoFrameFeatures(ds: Dataset[MediaRecord], stride: Int): Dataset[VideoFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r =>
      decodeVideoFrames(r.payload, stride).map(_.copy(media_id = r.media_id))))
  }

  /** Shot/scene segmentation from per-frame channel means: a cut is a
    * frame whose L1 color distance to the PREVIOUS frame exceeds
    * `threshold` (the classic frame-difference shot detector); scenes
    * are the runs between cuts →
    * `(media_id, scene_idx, start_frame, end_frame, n_frames)`.
    * Same declarative shape as [[silenceSpans]]: the deltas are one
    * media-partitioned `lag` window, the segmentation one running sum
    * over the cut flags — no self-join, no iteration, and the decode
    * stays in the partition-preserving frame stage upstream.
    */
  def sceneSegments(frames: Dataset[VideoFrame], threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    // solid/lossless fixtures make means exact ints; for real footage
    // the long cast just coarsens the metric by < 1 L1 unit per channel
    def ch(c: String) = col(c).cast("long")
    frames.toDF()
      .withColumn("__d",
        abs(ch("mean_r") - lag(ch("mean_r"), 1).over(w)) +
          abs(ch("mean_g") - lag(ch("mean_g"), 1).over(w)) +
          abs(ch("mean_b") - lag(ch("mean_b"), 1).over(w)))
      .withColumn("__cut",
        when(col("__d").isNull || col("__d") > threshold, 1L).otherwise(0L))
      .withColumn("scene_idx", sum(col("__cut")).over(w))
      .groupBy(col("media_id"), col("scene_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .select(col("media_id"), col("scene_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"))
  }

  /** Deterministic uncompressed-AVI fixture: solid-color BI_RGB frames —
    * lossless, so each frame's decoded channel means equal the
    * constructed color EXACTLY (an external oracle predicts decode
    * output analytically, the video analog of [[squareWav]]).
    */
  def solidAvi(w: Int, h: Int, fps: Int, colors: Seq[(Int, Int, Int)]): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val frameLen = rowSize * h
    val out = new java.io.ByteArrayOutputStream()
    val bb = java.nio.ByteBuffer.allocate(
        12 + 8 + 4 + 64 + 8 + 4 + 64 + 48 + 8 + 4 + colors.size * (8 + frameLen))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = bb.put(s.getBytes("US-ASCII"))
    val moviLen = 4 + colors.size * (8 + frameLen)
    val hdrlLen = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    cc("RIFF"); bb.putInt(4 + 8 + hdrlLen + 8 + moviLen); cc("AVI ")
    cc("LIST"); bb.putInt(hdrlLen); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0x10)
      .putInt(colors.size).putInt(0).putInt(1).putInt(frameLen)
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); cc("strl")
    cc("strh"); bb.putInt(56)
    cc("vids"); cc("DIB ")
    bb.putInt(0).putInt(0).putInt(0)           // flags, prio+lang, initialFrames
      .putInt(1).putInt(fps)                   // scale, rate
      .putInt(0).putInt(colors.size)           // start, length
      .putInt(frameLen).putInt(-1).putInt(0)   // bufSize, quality, sampleSize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    cc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(frameLen).putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); bb.putInt(moviLen); cc("movi")
    colors.foreach { case (r, g, b) =>
      cc("00db"); bb.putInt(frameLen)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { bb.put(b.toByte).put(g.toByte).put(r.toByte); x += 1 }
        var p = w * 3
        while (p < rowSize) { bb.put(0.toByte); p += 1 }
        y += 1
      }
    }
    out.write(bb.array(), 0, bb.position())
    out.toByteArray
  }
}
