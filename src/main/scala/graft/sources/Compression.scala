package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, Inflater, ZipInputStream}
import javax.crypto.Cipher

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.spark.sql.{Dataset, SparkSession}

/** Transparent compression layer (reference
  * dataprovider/DataProvider.java:150-211, SURVEY §2.1): zip (single
  * entry, optional traditional ZipCrypto password), tar.gz / tgz / gz
  * around any format. Spark model: `.gz` line formats decompress natively
  * via Hadoop codecs; the whole-file formats (and zip/tar containers) go
  * through `binaryFile` + per-task decompression — one file per task,
  * constant memory per stream.
  */
object Compression {

  /** Traditional PKWARE (ZipCrypto) stream cipher — public algorithm
    * (PKWARE APPNOTE.TXT §6.1). Only used for password-protected
    * single-entry zips like the reference's test fixtures.
    */
  private[sources] final class ZipCrypto(password: Array[Byte]) {
    private val crcTable = Array.tabulate(256) { i =>
      var c = i.toLong
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0xEDB88320L ^ (c >>> 1) else c >>> 1; k += 1 }
      c
    }
    private var k0 = 0x12345678L
    private var k1 = 0x23456789L
    private var k2 = 0x34567890L
    private def crc32(crc: Long, b: Int): Long =
      crcTable(((crc ^ b) & 0xff).toInt) ^ (crc >>> 8)
    private def update(b: Int): Unit = {
      k0 = crc32(k0, b)
      k1 = (k1 + (k0 & 0xff)) & 0xffffffffL
      k1 = (k1 * 134775813L + 1) & 0xffffffffL
      k2 = crc32(k2, ((k1 >>> 24) & 0xff).toInt)
    }
    password.foreach(b => update(b & 0xff))
    private def streamByte: Int = {
      val t = (k2 | 2) & 0xffffffffL
      (((t * (t ^ 1)) >> 8) & 0xff).toInt
    }
    def decryptByte(b: Int): Int = {
      val p = (b ^ streamByte) & 0xff
      update(p)
      p
    }
    def decrypt(data: Array[Byte]): Array[Byte] = data.map(b => decryptByte(b & 0xff).toByte)
    def encryptByte(p: Int): Int = {
      val c = (p ^ streamByte) & 0xff
      update(p)
      c
    }
    def encrypt(data: Array[Byte]): Array[Byte] = data.map(b => encryptByte(b & 0xff).toByte)
  }

  /** Decompress one container to the first entry's bytes by extension. */
  def decompress(fileName: String, bytes: Array[Byte],
                 zipPassword: Option[String] = None): Array[Byte] = {
    val lower = fileName.toLowerCase
    if (lower.endsWith(".tar.gz") || lower.endsWith(".tgz")) {
      // the first regular file; directories and links are skipped
      val t = new TarArchiveInputStream(new GZIPInputStream(new ByteArrayInputStream(bytes)))
      var e = t.getNextEntry
      while (e != null && (!e.isFile || e.isLink || e.isSymbolicLink)) e = t.getNextEntry
      if (e == null) Array.empty else t.readAllBytes()
    } else if (lower.endsWith(".gz"))
      new GZIPInputStream(new ByteArrayInputStream(bytes)).readAllBytes()
    else if (lower.endsWith(".zip")) zipPassword match {
      case None =>
        val z = new ZipInputStream(new ByteArrayInputStream(bytes))
        var e = z.getNextEntry
        while (e != null && e.isDirectory) e = z.getNextEntry
        if (e == null) Array.empty else z.readAllBytes()
      case Some(pw) => decryptZipCryptoEntry(bytes, pw)
    }
    else bytes
  }

  /** WinZip AES (AE-1/AE-2, public spec): PBKDF2-HMAC-SHA1(1000) key
    * derivation, AES-CTR with a little-endian counter starting at 1 (no
    * nonce — hence the manual counter, JDK CTR is big-endian), HMAC-SHA1
    * auth code. Strength 3 = AES-256 (16-byte salt).
    */
  private[sources] def aesCtr(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val aes = Cipher.getInstance("AES/ECB/NoPadding")
    aes.init(Cipher.ENCRYPT_MODE, new javax.crypto.spec.SecretKeySpec(key, "AES"))
    val out = new Array[Byte](data.length)
    val ctr = new Array[Byte](16)
    var counter = 1L
    var off = 0
    while (off < data.length) {
      var c = counter
      var i = 0
      while (i < 8) { ctr(i) = (c & 0xff).toByte; c >>>= 8; i += 1 }
      val ks = aes.doFinal(ctr)
      val n = math.min(16, data.length - off)
      var j = 0
      while (j < n) { out(off + j) = (data(off + j) ^ ks(j)).toByte; j += 1 }
      off += n
      counter += 1
    }
    out
  }

  private[sources] def aesZipKeys(password: String, salt: Array[Byte],
                                  keyBytes: Int): (Array[Byte], Array[Byte], Array[Byte]) = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, 1000, (keyBytes * 2 + 2) * 8)
    val f = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA1")
    val km = f.generateSecret(spec).getEncoded
    (km.slice(0, keyBytes), km.slice(keyBytes, keyBytes * 2),
      km.slice(keyBytes * 2, keyBytes * 2 + 2))
  }

  /** Inflate a raw (headerless) deflate stream. `Inflater(nowrap)` may
    * ask for one more byte past the data; that is the end, not an error.
    */
  private def inflateRaw(payload: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(payload)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) return out.toByteArray
      out.write(buf, 0, n)
    }
    out.toByteArray
  }

  /** Parse the raw zip structure and ZipCrypto-decrypt the first stored/
    * deflated entry (java.util.zip cannot read encrypted entries).
    */
  private def decryptZipCryptoEntry(bytes: Array[Byte], password: String): Array[Byte] = {
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var off = 0
    while (off + 30 <= bytes.length && u32(off) == 0x04034b50L) {
      val flags = u16(off + 6)
      val method = u16(off + 8)
      val compSize = u32(off + 18).toInt
      val nameLen = u16(off + 26)
      val extraLen = u16(off + 28)
      val dataOff = off + 30 + nameLen + extraLen
      val encrypted = (flags & 1) != 0
      // general-purpose bit 3: sizes live in a trailing data descriptor,
      // the local header reads 0 — silently decrypting zero bytes would
      // surface as an inexplicable empty DataFrame downstream
      require(!encrypted || (flags & 8) == 0 || compSize > 0,
        "zip entry uses a data descriptor (streaming writer); " +
          "re-zip without streaming mode to import it")
      if (encrypted && method == 99) {
        // WinZip AES: extra field 0x9901 → strength + actual method
        var eo = off + 30 + nameLen
        val eend = dataOff
        var strength = 3
        var realMethod = 8
        while (eo + 4 <= eend) {
          val id = u16(eo); val len = u16(eo + 2)
          if (id == 0x9901 && len >= 7) {
            strength = bytes(eo + 4 + 4) & 0xff
            realMethod = u16(eo + 4 + 5)
          }
          eo += 4 + len
        }
        val saltLen = 8 + strength * 4 - 4 // 1→8, 2→12, 3→16
        val keyBytes = strength * 8 + 8 // 1→16, 2→24, 3→32
        val salt = bytes.slice(dataOff, dataOff + saltLen)
        val verify = bytes.slice(dataOff + saltLen, dataOff + saltLen + 2)
        val (aesKey, _, pv) = aesZipKeys(password, salt, keyBytes)
        require(java.util.Arrays.equals(verify, pv), "wrong AES-zip password")
        val cipherLen = compSize - saltLen - 2 - 10 // minus auth code
        val payload = aesCtr(aesKey,
          bytes.slice(dataOff + saltLen + 2, dataOff + saltLen + 2 + cipherLen))
        return if (realMethod == 0) payload else inflateRaw(payload)
      } else if (encrypted && method <= 8) {
        val zc = new ZipCrypto(password.getBytes("US-ASCII"))
        val dec = zc.decrypt(bytes.slice(dataOff, dataOff + compSize))
        // APPNOTE 6.1.6: last header byte checks the password — CRC high
        // byte, or the mod-time high byte when bit 3 set. Garbage output
        // from a wrong password must not flow on as file content.
        val check = if ((flags & 8) != 0) (u16(off + 10) >> 8) & 0xff
                    else ((u32(off + 14) >> 24) & 0xff).toInt
        require((dec(11) & 0xff) == check, "wrong ZipCrypto password")
        val payload = dec.drop(12) // 12-byte encryption header
        return if (method == 0) payload else inflateRaw(payload)
      }
      off = dataOff + compSize
    }
    Array.empty
  }

  /** Read possibly-compressed whole files as text, one file per task:
    * (path, decompressed content).
    */
  def readWholeText(spark: SparkSession, path: String,
                    zipPassword: Option[String] = None,
                    charset: String = "UTF-8"): Dataset[(String, String)] = {
    import spark.implicits._
    BinaryFiles.read(spark, path)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (p, b) => (p, new String(decompress(p, b, zipPassword), charset)) }
  }
}
