package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** KeePass 2 (.kdbx, formats 3.1 AND 4) source (reference
  * dataprovider/KdbxDataProvider.java:31-280, SURVEY §2.1): decrypt with
  * the password, iterate every entry in every group, each entry's
  * String key/value map = one row.
  *
  * Pure-JDK implementation of the public container formats (KeePass
  * file-format spec):
  *  - KDBX 3.1: AES-KDF (N rounds of AES-ECB over the composite key),
  *    AES-256-CBC payload, StreamStartBytes check, hashed block stream,
  *    optional gzip, Salsa20 inner stream.
  *  - KDBX 4: Argon2d/Argon2id KDF (or AES-KDF) from a
  *    VariantDictionary, header SHA-256 + HMAC-SHA-256 verification,
  *    HMAC block stream, AES-256-CBC or ChaCha20 payload, binary inner
  *    header, ChaCha20 (or Salsa20) inner stream. ChaCha20 is the
  *    JDK's; Argon2/BLAKE2b are from-RFC implementations in
  *    [[Kdbx4Crypto]].
  *
  * `Protected="True"` values decrypt with ONE continuous keystream over
  * the values in document order.
  */
object KdbxSource {

  private val Magic1 = 0x9AA2D903
  private val Magic2 = 0xB54BFB67

  /** Inner-stream cipher for `Protected` values (Salsa20 in 3.1,
    * ChaCha20 in 4).
    */
  trait InnerCipher { def crypt(data: Array[Byte]): Array[Byte] }

  /** A JDK stream cipher as an [[InnerCipher]]: one keystream runs on
    * through every value. `update` returns null for empty input, and an
    * empty protected value decodes to "".
    */
  private[sources] def innerCipher(c: Cipher): InnerCipher =
    data => Option(c.update(data)).getOrElse(Array.emptyByteArray)

  /** Salsa20 keystream (D. Bernstein's public algorithm) — KeePass
    * protects inner `Protected="True"` values with Salsa20 keyed by
    * SHA256(ProtectedStreamKey) and the fixed nonce E830094B97205D2A,
    * one continuous stream over the values in document order.
    */
  private[sources] final class Salsa20(key: Array[Byte], nonce: Array[Byte])
      extends InnerCipher {
    private val state = new Array[Int](16)
    private def u32le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    // "expa nd 3 2-by te k" constants + 32-byte key + nonce + counter
    state(0) = 0x61707865
    state(5) = 0x3320646e
    state(10) = 0x79622d32
    state(15) = 0x6b206574
    (0 until 4).foreach(i => state(1 + i) = u32le(key, i * 4))
    (0 until 4).foreach(i => state(11 + i) = u32le(key, 16 + i * 4))
    state(6) = u32le(nonce, 0)
    state(7) = u32le(nonce, 4)
    state(8) = 0; state(9) = 0 // block counter
    private val block = new Array[Byte](64)
    private var blockPos = 64
    private def rotl(v: Int, c: Int): Int = (v << c) | (v >>> (32 - c))
    private def nextBlock(): Unit = {
      val x = state.clone()
      var i = 0
      while (i < 10) {
        def qr(a: Int, b: Int, c: Int, d: Int): Unit = {
          x(b) ^= rotl(x(a) + x(d), 7)
          x(c) ^= rotl(x(b) + x(a), 9)
          x(d) ^= rotl(x(c) + x(b), 13)
          x(a) ^= rotl(x(d) + x(c), 18)
        }
        qr(0, 4, 8, 12); qr(5, 9, 13, 1); qr(10, 14, 2, 6); qr(15, 3, 7, 11)
        qr(0, 1, 2, 3); qr(5, 6, 7, 4); qr(10, 11, 8, 9); qr(15, 12, 13, 14)
        i += 1
      }
      var j = 0
      while (j < 16) {
        val v = x(j) + state(j)
        block(j * 4) = (v & 0xff).toByte
        block(j * 4 + 1) = ((v >>> 8) & 0xff).toByte
        block(j * 4 + 2) = ((v >>> 16) & 0xff).toByte
        block(j * 4 + 3) = ((v >>> 24) & 0xff).toByte
        j += 1
      }
      val c = (state(8).toLong & 0xffffffffL) + 1
      state(8) = (c & 0xffffffffL).toInt
      if (c > 0xffffffffL) state(9) += 1
      blockPos = 0
    }
    def crypt(data: Array[Byte]): Array[Byte] = data.map { b =>
      if (blockPos >= 64) nextBlock()
      val k = block(blockPos); blockPos += 1
      (b ^ k).toByte
    }
  }

  private[sources] val InnerStreamNonce: Array[Byte] =
    Array(0xE8, 0x30, 0x09, 0x4B, 0x97, 0x20, 0x5D, 0x2A).map(_.toByte)

  private def sha256(b: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    b.foreach(md.update)
    md.digest()
  }

  private[sources] case class Header(cipherIv: Array[Byte], masterSeed: Array[Byte],
                                     transformSeed: Array[Byte], rounds: Long,
                                     streamStart: Array[Byte], gzip: Boolean,
                                     headerLen: Int,
                                     protectedStreamKey: Option[Array[Byte]],
                                     innerStreamId: Int)

  private def parseHeader(bytes: Array[Byte]): Header = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt() == Magic1 && buf.getInt() == Magic2, "not a kdbx file")
    val version = buf.getInt()
    require((version >>> 16) == 3,
      s"internal: v${version >>> 16} header routed to the 3.x parser")
    var iv: Array[Byte] = null
    var seed: Array[Byte] = null
    var tseed: Array[Byte] = null
    var rounds = 600000L
    var start: Array[Byte] = null
    var gz = false
    var protKey: Option[Array[Byte]] = None
    var innerId = 0
    var done = false
    while (!done) {
      val id = buf.get()
      val len = buf.getShort() & 0xffff
      val data = new Array[Byte](len)
      buf.get(data)
      id match {
        case 0 => done = true
        case 3 => gz = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).getInt() == 1
        case 4 => seed = data
        case 5 => tseed = data
        case 6 => rounds = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).getLong()
        case 7 => iv = data
        case 8 => protKey = Some(data)
        case 9 => start = data
        case 10 => innerId = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).getInt()
        case _ => // CipherID(2): unused
      }
    }
    Header(iv, seed, tseed, rounds, start, gz, buf.position(), protKey, innerId)
  }

  private def deriveMasterKey(password: String, h: Header): Array[Byte] = {
    val composite = sha256(sha256(password.getBytes("UTF-8")))
    val aes = Cipher.getInstance("AES/ECB/NoPadding")
    aes.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(h.transformSeed, "AES"))
    var k = composite
    var i = 0L
    while (i < h.rounds) { k = aes.doFinal(k); i += 1 }
    sha256(h.masterSeed, sha256(k))
  }

  private def readHashedBlocks(data: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new ByteArrayOutputStream()
    var done = false
    while (!done && buf.remaining() >= 40) {
      buf.getInt() // block index
      val hash = new Array[Byte](32)
      buf.get(hash)
      val len = buf.getInt()
      if (len == 0) done = true
      else {
        val block = new Array[Byte](len)
        buf.get(block)
        require(java.util.Arrays.equals(sha256(block), hash), "kdbx block hash mismatch")
        out.write(block)
      }
    }
    out.toByteArray
  }

  /** Decrypt a kdbx payload to (inner XML, optional inner-stream cipher
    * for Protected values). Dispatches on the header's major version.
    */
  private[sources] def decryptXmlWithStream(bytes: Array[Byte],
      password: String): (String, Option[InnerCipher]) = {
    require(bytes.length >= 12, "truncated kdbx file")
    val major = ((bytes(11) & 0xff) << 8) | (bytes(10) & 0xff)
    if (major >= 4) return Kdbx4Reader.decrypt(bytes, password)
    val h = parseHeader(bytes)
    val key = deriveMasterKey(password, h)
    val aes = Cipher.getInstance("AES/CBC/PKCS5Padding")
    aes.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(h.cipherIv))
    val plain = aes.doFinal(bytes, h.headerLen, bytes.length - h.headerLen)
    require(plain.length >= h.streamStart.length &&
      java.util.Arrays.equals(plain.take(h.streamStart.length), h.streamStart),
      "wrong kdbx password (StreamStartBytes mismatch)")
    val blocks = readHashedBlocks(plain.drop(h.streamStart.length))
    val xml =
      if (h.gzip) new GZIPInputStream(new ByteArrayInputStream(blocks)).readAllBytes()
      else blocks
    val salsa =
      if (h.innerStreamId == 2) h.protectedStreamKey.map(k =>
        new Salsa20(sha256(k), InnerStreamNonce))
      else None
    (new String(xml, "UTF-8"), salsa)
  }

  private[sources] def decryptXml(bytes: Array[Byte], password: String): String =
    decryptXmlWithStream(bytes, password)._1

  /** Entries from the inner XML: every `<Entry>`'s `<String><Key>/<Value>`
    * pairs (all groups, any depth), like the reference's entry walk.
    */
  private[sources] def parseEntries(xml: String,
      inner: Option[InnerCipher] = None): Seq[Map[String, String]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new java.io.StringReader(xml))
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    var entry: scala.collection.mutable.LinkedHashMap[String, String] = null
    var inHistory = false
    var inString = false // only Entry/String/Key+Value pairs are fields
    var key: String = null
    var cur: String = null // "Key" | "Value" | null
    var isProtected = false
    val text = new StringBuilder
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "History" => inHistory = true
        case "String" => inString = true
        case "Entry" if !inHistory => entry = scala.collection.mutable.LinkedHashMap.empty
        // Key/Value collect inside ANY <String> — including History:
        // the inner stream is ONE continuous keystream over protected
        // values in document order, so a skipped history value would
        // desync decryption of everything after it. (<Binary>
        // attachments and <CustomData> items are NOT fields and are
        // excluded by the String gate.)
        case "Key" | "Value" if inString =>
          cur = r.getLocalName; text.clear()
          isProtected = cur == "Value" &&
            (0 until r.getAttributeCount).exists(i =>
              r.getAttributeLocalName(i) == "Protected" &&
                r.getAttributeValue(i).equalsIgnoreCase("True"))
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS if cur != null => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "History" => inHistory = false
        case "String" => inString = false
        case "Key" if inString => key = text.toString; cur = null
        case "Value" if inString =>
          val v =
            if (isProtected) inner match {
              case Some(s20) => new String(
                s20.crypt(java.util.Base64.getDecoder.decode(text.toString)), "UTF-8")
              case None => throw new IllegalArgumentException(
                "protected value found but the inner stream is absent or " +
                  "unsupported — refusing to import ciphertext as data")
            } else text.toString
          // history values DECRYPT (keystream position) but don't store
          if (!inHistory && entry != null && key != null) entry(key) = v
          key = null; cur = null; isProtected = false
        case "Entry" if !inHistory && entry != null => out += entry.toMap; entry = null
        case _ =>
      }
      case _ =>
    } finally r.close()
    out.toSeq
  }

  /** One kdbx file per task, union-of-keys schema. */
  def read(spark: SparkSession, path: String, password: String): DataFrame =
    WholeFileFrame.byKeys(spark, path) { b =>
      val (xml, inner) = decryptXmlWithStream(b, password)
      parseEntries(xml, inner)
    }
}

/** Fixture-side kdbx 3.1 + 4 writers (deterministic seeds for tests). */
object KdbxWriter {

  private def sha256(b: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    b.foreach(md.update)
    md.digest()
  }

  private def sha512(b: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-512")
    b.foreach(md.update)
    md.digest()
  }

  private def entriesXml(entries: Seq[Map[String, String]],
                         protectKeys: Set[String],
                         inner: Option[KdbxSource.InnerCipher]): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val es = entries.map { e =>
      e.map { case (k, v) =>
        if (protectKeys.contains(k)) {
          val ct = java.util.Base64.getEncoder.encodeToString(
            inner.get.crypt(v.getBytes("UTF-8")))
          s"""<String><Key>${esc(k)}</Key><Value Protected="True">$ct</Value></String>"""
        } else
          s"<String><Key>${esc(k)}</Key><Value>${esc(v)}</Value></String>"
      }.mkString("<Entry>", "", "</Entry>")
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8"?><KeePassFile><Root><Group><Name>Root</Name>$es</Group></Root></KeePassFile>"""
  }

  /** kdbx4 fixture: Argon2 KDF (id or d), ChaCha20 payload + ChaCha20
    * inner stream, gzip, HMAC block stream — deterministic "random"
    * material so tests are stable. `blockSize` splits the payload into
    * multiple HMAC blocks (real KeePass writes 1 MiB blocks; a small
    * value exercises the reader's multi-block loop).
    */
  def write4(f: java.io.File, password: String,
             entries: Seq[Map[String, String]],
             protectKeys: Set[String] = Set.empty,
             argon2Variant: Int = Kdbx4Crypto.Argon2Type.Id,
             memoryKib: Int = 64, iterations: Int = 2,
             parallelism: Int = 2,
             blockSize: Int = Int.MaxValue): java.io.File = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val seedSrc = entries.map(_.toString).mkString("|").getBytes("UTF-8")
    val masterSeed = sha256("seed4".getBytes, seedSrc)
    val salt = sha256("salt4".getBytes, seedSrc)
    val iv = sha256("iv4".getBytes, seedSrc).take(12) // ChaCha20 nonce
    val innerKey = sha256("inner4".getBytes, seedSrc) ++ sha256("inner4b".getBytes, seedSrc)
    def le32(v: Int) = { val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN); b.putInt(v); b.array() }
    def le64(v: Long) = { val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putLong(v); b.array() }

    // inner stream cipher (ChaCha20, id 3)
    val kh = sha512(innerKey)
    val inner = KdbxSource.innerCipher(Kdbx4Crypto.chaCha20(kh.take(32), kh.slice(32, 44)))
    val xml = entriesXml(entries, protectKeys, Some(inner))

    // inner header: streamID 3 + key + end, then XML
    val innerHdr = new ByteArrayOutputStream()
    def ifield(t: Int, data: Array[Byte]): Unit = {
      innerHdr.write(t); innerHdr.write(le32(data.length)); innerHdr.write(data)
    }
    ifield(1, le32(3))
    ifield(2, innerKey)
    ifield(0, Array.empty)
    innerHdr.write(xml.getBytes("UTF-8"))

    val gzipped = {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(innerHdr.toByteArray); g.close()
      bos.toByteArray
    }

    // outer header with Int32 field lengths
    val hdr = new ByteArrayOutputStream()
    def hfield(id: Int, data: Array[Byte]): Unit = {
      hdr.write(id); hdr.write(le32(data.length)); hdr.write(data)
    }
    hdr.write(le32(0x9AA2D903)); hdr.write(le32(0xB54BFB67))
    hdr.write(le32(0x00040000)) // version 4.0
    val chachaUuid = "d6038a2b8b6f4cb5a524339a31dbb59a"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val kdfUuid = (if (argon2Variant == Kdbx4Crypto.Argon2Type.D)
      "ef636ddf8c29444b91f7a9a403e30a0c" else "9e298b1956db4773b23dfc3ec6f0a1e6")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    hfield(2, chachaUuid)
    hfield(3, le32(1)) // gzip
    hfield(4, masterSeed)
    hfield(7, iv)
    // KDF VariantDictionary
    val vd = new ByteArrayOutputStream()
    vd.write(Array[Byte](0, 1)) // dict version 0x0100 LE
    def ventry(t: Int, key: String, value: Array[Byte]): Unit = {
      vd.write(t)
      val kb = key.getBytes("UTF-8")
      vd.write(le32(kb.length)); vd.write(kb)
      vd.write(le32(value.length)); vd.write(value)
    }
    ventry(0x42, "$UUID", kdfUuid)
    ventry(0x42, "S", salt)
    ventry(0x04, "P", le32(parallelism))
    ventry(0x05, "M", le64(memoryKib * 1024L))
    ventry(0x05, "I", le64(iterations.toLong))
    ventry(0x04, "V", le32(0x13))
    vd.write(0)
    hfield(11, vd.toByteArray)
    hfield(0, "\r\n\r\n".getBytes)
    val header = hdr.toByteArray

    val composite = sha256(sha256(password.getBytes("UTF-8")))
    val transformed = Kdbx4Crypto.argon2(argon2Variant, composite, salt,
      parallelism, memoryKib, iterations)
    val hmacKey64 = sha512(masterSeed, transformed, Array(1.toByte))
    val cipherKey = sha256(masterSeed, transformed)
    val encrypted = Kdbx4Crypto.chaCha20(cipherKey, iv).doFinal(gzipped)

    val out = new ByteArrayOutputStream()
    out.write(header)
    out.write(sha256(header))
    out.write(Kdbx4Reader.hmacSha256(sha512(le64(-1L), hmacKey64), header))
    // HMAC block stream: ⌈len/blockSize⌉ data blocks + terminator
    def block(index: Long, data: Array[Byte]): Unit = {
      val bk = sha512(le64(index), hmacKey64)
      out.write(Kdbx4Reader.hmacSha256(bk, le64(index), le32(data.length), data))
      out.write(le32(data.length))
      out.write(data)
    }
    val chunks = encrypted.grouped(blockSize).toSeq
    chunks.zipWithIndex.foreach { case (c, i) => block(i.toLong, c) }
    block(chunks.length.toLong, Array.empty)
    val fos = new java.io.FileOutputStream(f)
    try fos.write(out.toByteArray) finally fos.close()
    f
  }

  def write(f: java.io.File, password: String,
            entries: Seq[Map[String, String]], rounds: Long = 6000,
            protectKeys: Set[String] = Set.empty): java.io.File = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // protected stream key: deterministic for fixtures
    val protKey = sha256("protkey".getBytes,
      entries.map(_.toString).mkString("|").getBytes("UTF-8"))
    val salsa = new KdbxSource.Salsa20(sha256(protKey), KdbxSource.InnerStreamNonce)
    val xml = {
      val es = entries.map { e =>
        e.map { case (k, v) =>
          if (protectKeys.contains(k)) {
            // continuous keystream in document order, like KeePass
            val ct = java.util.Base64.getEncoder.encodeToString(
              salsa.crypt(v.getBytes("UTF-8")))
            s"""<String><Key>${esc(k)}</Key><Value Protected="True">$ct</Value></String>"""
          } else
            s"<String><Key>${esc(k)}</Key><Value>${esc(v)}</Value></String>"
        }.mkString("<Entry>", "", "</Entry>")
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8"?><KeePassFile><Root><Group><Name>Root</Name>$es</Group></Root></KeePassFile>"""
    }
    // deterministic "random" material derived from the content
    val masterSeed = sha256("seed".getBytes, xml.getBytes("UTF-8"))
    val transformSeed = sha256("tseed".getBytes, xml.getBytes("UTF-8"))
    val iv = sha256("iv".getBytes, xml.getBytes("UTF-8")).take(16)
    val streamStart = sha256("start".getBytes, xml.getBytes("UTF-8"))

    val gzipped = {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(xml.getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    // hashed block stream: one block + terminator
    val blocks = {
      val b = ByteBuffer.allocate(4 + 32 + 4 + gzipped.length + 40)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0); b.put(sha256(gzipped)); b.putInt(gzipped.length); b.put(gzipped)
      b.putInt(1); b.put(new Array[Byte](32)); b.putInt(0)
      b.array()
    }
    val plain = streamStart ++ blocks

    val composite = sha256(sha256(password.getBytes("UTF-8")))
    val aesEcb = Cipher.getInstance("AES/ECB/NoPadding")
    aesEcb.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(transformSeed, "AES"))
    var k = composite
    (0L until rounds).foreach(_ => k = aesEcb.doFinal(k))
    val masterKey = sha256(masterSeed, sha256(k))
    val aes = Cipher.getInstance("AES/CBC/PKCS5Padding")
    aes.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(masterKey, "AES"), new IvParameterSpec(iv))
    val cipherText = aes.doFinal(plain)

    val out = new ByteArrayOutputStream()
    def le32(v: Int) = { val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN); b.putInt(v); out.write(b.array()) }
    def field(id: Int, data: Array[Byte]): Unit = {
      out.write(id)
      val b = ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(data.length.toShort); out.write(b.array()); out.write(data)
    }
    le32(0x9AA2D903); le32(0xB54BFB67.toInt); le32(0x00030001)
    field(3, { val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN); b.putInt(1); b.array() }) // gzip
    field(4, masterSeed)
    field(5, transformSeed)
    field(6, { val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putLong(rounds); b.array() })
    field(7, iv)
    field(8, protKey)
    field(9, streamStart)
    field(10, { val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(if (protectKeys.nonEmpty) 2 else 0); b.array() }) // 2 = Salsa20
    field(0, "\r\n\r\n".getBytes)
    out.write(cipherText)
    val fos = new java.io.FileOutputStream(f)
    try fos.write(out.toByteArray) finally fos.close()
    f
  }
}
