package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import javax.crypto.{Cipher, Mac}

import graft.sources.KdbxSource.InnerCipher

/** KDBX 4 container reader (KeePass file-format spec; reference
  * KdbxDataProvider.java:262-269 reads kdbx4 via the keepass library):
  * outer header with Int32 field lengths and a VariantDictionary of KDF
  * parameters, header SHA-256 + HMAC-SHA-256, HMAC block stream,
  * AES-256-CBC or ChaCha20 payload, gzip, binary inner header, ChaCha20
  * (id 3) or Salsa20 (id 2) inner stream for Protected values.
  */
private[sources] object Kdbx4Reader {

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  // cipher / KDF UUIDs as their stored byte sequences
  private val AesCipher = "31c1f2e6bf714350be5805216afc5aff"
  private val ChaChaCipher = "d6038a2b8b6f4cb5a524339a31dbb59a"
  private val KdfArgon2d = "ef636ddf8c29444b91f7a9a403e30a0c"
  private val KdfArgon2id = "9e298b1956db4773b23dfc3ec6f0a1e6"
  private val KdfAes = "c9d9f39a628a4460bf740d08c18a4fea"

  private def sha256(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest()
  }

  private def sha512(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-512")
    parts.foreach(md.update)
    md.digest()
  }

  private[sources] def hmacSha256(key: Array[Byte], parts: Array[Byte]*): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    parts.foreach(mac.update)
    mac.doFinal()
  }

  private def le64Bytes(v: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(v); b.array()
  }

  private def le32Bytes(v: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(v); b.array()
  }

  /** VariantDictionary (kdbx4 spec): u16 version, then
    * [type u8][keyLen u32][key][valLen u32][value]*, terminator type 0.
    */
  private[sources] def parseVariantDict(data: Array[Byte]): Map[String, Any] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    buf.getShort() // dict version (0x0100)
    val out = Map.newBuilder[String, Any]
    var done = false
    while (!done && buf.hasRemaining) {
      val t = buf.get() & 0xff
      if (t == 0) done = true
      else {
        val key = { val k = new Array[Byte](buf.getInt()); buf.get(k); new String(k, "UTF-8") }
        val raw = { val v = new Array[Byte](buf.getInt()); buf.get(v); v }
        val vb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        val value: Any = t match {
          case 0x04 => vb.getInt().toLong & 0xffffffffL // UInt32
          case 0x05 | 0x0D => vb.getLong() // UInt64 / Int64
          case 0x08 => raw(0) != 0 // Bool
          case 0x0C => vb.getInt() // Int32
          case 0x18 => new String(raw, "UTF-8") // String
          case _ => raw // 0x42 byte array
        }
        out += key -> value
      }
    }
    out.result()
  }

  private[sources] case class Header4(raw: Array[Byte], cipherId: String,
                                      gzip: Boolean, masterSeed: Array[Byte],
                                      iv: Array[Byte], kdf: Map[String, Any],
                                      endOffset: Int)

  private[sources] def parseHeader4(bytes: Array[Byte]): Header4 = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.getInt(); buf.getInt() // magics (checked by dispatcher)
    buf.getInt() // version
    var cipher: String = null
    var gz = false
    var seed: Array[Byte] = null
    var iv: Array[Byte] = null
    var kdf: Map[String, Any] = Map.empty
    var done = false
    while (!done) {
      val id = buf.get() & 0xff
      val len = buf.getInt()
      val data = new Array[Byte](len)
      buf.get(data)
      id match {
        case 0 => done = true
        case 2 => cipher = hex(data)
        case 3 => gz = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).getInt() == 1
        case 4 => seed = data
        case 7 => iv = data
        case 11 => kdf = parseVariantDict(data)
        case _ => // comment / public custom data
      }
    }
    Header4(bytes.take(buf.position()), cipher, gz, seed, iv, kdf, buf.position())
  }

  /** Transformed key from the KDF described by the VariantDictionary. */
  private[sources] def transformKey(composite: Array[Byte], kdf: Map[String, Any]): Array[Byte] = {
    val uuid = hex(kdf("$UUID").asInstanceOf[Array[Byte]])
    uuid match {
      case KdfArgon2d | KdfArgon2id =>
        val variant = if (uuid == KdfArgon2d) Kdbx4Crypto.Argon2Type.D
                      else Kdbx4Crypto.Argon2Type.Id
        val salt = kdf("S").asInstanceOf[Array[Byte]]
        val par = kdf("P") match { case l: Long => l.toInt; case i: Int => i }
        val memBytes = kdf("M").asInstanceOf[Long]
        val iters = kdf("I").asInstanceOf[Long]
        val version = kdf.get("V").map { case l: Long => l.toInt; case i: Int => i }
          .getOrElse(0x13)
        Kdbx4Crypto.argon2(variant, composite, salt, par,
          (memBytes / 1024L).toInt, iters.toInt, outLen = 32, version = version)
      case KdfAes =>
        val seed = kdf("S").asInstanceOf[Array[Byte]]
        val rounds = kdf("R").asInstanceOf[Long]
        val aes = Cipher.getInstance("AES/ECB/NoPadding")
        aes.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(seed, "AES"))
        var k = composite
        var i = 0L
        while (i < rounds) { k = aes.doFinal(k); i += 1 }
        sha256(k)
      case other => throw new IllegalArgumentException(s"unsupported kdbx4 KDF: $other")
    }
  }

  /** HMAC block stream: [hmac 32][len u32][data]*, terminated by a
    * zero-length block. Block i key = SHA512(LE64(i) || hmacKey64); the
    * MAC covers LE64(i), LE32(len), data.
    */
  private[sources] def readHmacBlocks(bytes: Array[Byte], from: Int,
                                      hmacKey64: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(bytes, from, bytes.length - from).order(ByteOrder.LITTLE_ENDIAN)
    val out = new ByteArrayOutputStream()
    var index = 0L
    var done = false
    while (!done) {
      val mac = new Array[Byte](32)
      buf.get(mac)
      val len = buf.getInt()
      val data = new Array[Byte](len)
      buf.get(data)
      val blockKey = sha512(le64Bytes(index), hmacKey64)
      val expect = hmacSha256(blockKey, le64Bytes(index), le32Bytes(len), data)
      require(java.util.Arrays.equals(mac, expect),
        s"kdbx4 block $index HMAC mismatch (corrupt file or wrong password)")
      if (len == 0) done = true else out.write(data)
      index += 1
    }
    out.toByteArray
  }

  def decrypt(bytes: Array[Byte], password: String): (String, Option[InnerCipher]) = {
    val h = parseHeader4(bytes)
    var pos = h.endOffset
    val storedSha = bytes.slice(pos, pos + 32); pos += 32
    val storedHmac = bytes.slice(pos, pos + 32); pos += 32
    require(java.util.Arrays.equals(storedSha, sha256(h.raw)),
      "kdbx4 header SHA-256 mismatch (corrupt file)")
    val composite = sha256(sha256(password.getBytes("UTF-8")))
    val transformed = transformKey(composite, h.kdf)
    val hmacKey64 = sha512(h.masterSeed, transformed, Array(1.toByte))
    val headerHmacKey = sha512(le64Bytes(-1L), hmacKey64)
    require(java.util.Arrays.equals(storedHmac, hmacSha256(headerHmacKey, h.raw)),
      "wrong kdbx password (header HMAC mismatch)")
    val cipherKey = sha256(h.masterSeed, transformed)
    val encrypted = readHmacBlocks(bytes, pos, hmacKey64)
    val plain = h.cipherId match {
      case AesCipher =>
        val aes = Cipher.getInstance("AES/CBC/PKCS5Padding")
        aes.init(Cipher.DECRYPT_MODE, new SecretKeySpec(cipherKey, "AES"),
          new IvParameterSpec(h.iv))
        aes.doFinal(encrypted)
      case ChaChaCipher => Kdbx4Crypto.chaCha20(cipherKey, h.iv).doFinal(encrypted)
      case other => throw new IllegalArgumentException(s"unsupported kdbx4 cipher: $other")
    }
    val decompressed =
      if (h.gzip) new GZIPInputStream(new ByteArrayInputStream(plain)).readAllBytes()
      else plain
    // inner header: [type u8][len u32][data]*, type 0 ends; XML follows
    val ibuf = ByteBuffer.wrap(decompressed).order(ByteOrder.LITTLE_ENDIAN)
    var innerId = 0
    var innerKey: Array[Byte] = null
    var innerDone = false
    while (!innerDone) {
      val t = ibuf.get() & 0xff
      val len = ibuf.getInt()
      val data = new Array[Byte](len)
      ibuf.get(data)
      t match {
        case 0 => innerDone = true
        case 1 => innerId = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).getInt()
        case 2 => innerKey = data
        case _ => // 3 = attachment binary: not part of the row surface
      }
    }
    val xml = new String(decompressed, ibuf.position(),
      decompressed.length - ibuf.position(), "UTF-8")
    val inner: Option[InnerCipher] = innerId match {
      case 3 if innerKey != null =>
        // ChaCha20 inner stream: SHA512(key) → key = [0,32), nonce = [32,44)
        val kh = sha512(innerKey)
        Some(KdbxSource.innerCipher(Kdbx4Crypto.chaCha20(kh.take(32), kh.slice(32, 44))))
      case 2 if innerKey != null =>
        Some(new KdbxSource.Salsa20(sha256(innerKey), KdbxSource.InnerStreamNonce))
      case _ => None
    }
    (xml, inner)
  }
}
