package graft.sources

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.SecretKeySpec

/** BIFF8 workbook encryption (MS-XLS 2.3.6, public spec; the reference
  * reads these files through POI — ExcelDataProvider.java works on any
  * workbook POI opens). All three FILEPASS variants; RC4 itself is the
  * JDK's `ARCFOUR`:
  *
  * STANDARD RC4 (`wEncryptionType=1`, version 1.1):
  *  - key schedule: `base = MD5(MD5(pw_utf16le)[0..5] ++ salt, ×16)[0..5]`,
  *    per-1024-byte-block RC4 key = `MD5(base ++ LE32(block))`;
  *  - the keystream covers the ENTIRE workbook stream (record headers
  *    included) but header bytes, the FILEPASS/BOF/InterfaceHdr/…
  *    record bodies, and BoundSheet8's lbPlyPos stay plaintext — their
  *    keystream bytes are discarded;
  *  - password check: RC4-decrypt the 32-byte verifier pair with block 0
  *    and compare `MD5(verifier)` to the decrypted verifier hash.
  *
  * RC4 CRYPTOAPI (`wEncryptionType=1`, version ≥ 2.2,
  * MS-OFFCRYPTO §2.3.5): SHA-1 key schedule —
  * `H = SHA1(salt ++ pw_utf16le)`, per-block key =
  * `SHA1(H ++ LE32(block))` truncated to the header's key size (the
  * 40-bit quirk zero-pads bytes 5..15); verifier pair is
  * 16-byte verifier + 20-byte SHA-1 hash; same record-aware keystream
  * walk and 1024-byte rekey as standard RC4.
  *
  * XOR OBFUSCATION (`wEncryptionType=0`, MS-XLS §2.2.10): per-record
  * byte transform against [[XlsXor]]'s 16-byte array; FILEPASS carries
  * the 16-bit key + verifier instead of a salt.
  */
object XlsCrypto {

  val FilePassSid = 0x002F

  /** Record bodies that are never encrypted (MS-XLS 2.2.10). */
  private val PlaintextSids = Set(
    0x0809, // BOF
    0x002F, // FILEPASS
    0x00E1, // INTERFACEHDR
    0x01A4, // USREXCL
    0x01A5, // FILELOCK
    0x0196, // RRDINFO
    0x0138) // RRDHEADREC

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  private def sha1(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-1")
    parts.foreach(md.update)
    md.digest()
  }

  private def le32Bytes(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** `data` XOR the JDK's RC4 (`ARCFOUR`) keystream under `key`. */
  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ARCFOUR")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
    c.doFinal(data)
  }

  /** 5-byte key material from password + salt (MS-XLS 2.3.6.2). */
  def keyBase(password: String, salt: Array[Byte]): Array[Byte] = {
    val h0 = md5(password.getBytes("UTF-16LE")).take(5)
    val kd = new Array[Byte](16 * 21)
    (0 until 16).foreach { i =>
      System.arraycopy(h0, 0, kd, i * 21, 5)
      System.arraycopy(salt, 0, kd, i * 21 + 5, 16)
    }
    md5(kd).take(5)
  }

  /** Full 16-byte RC4 key for a 1024-byte block. */
  def blockKey(base5: Array[Byte], block: Int): Array[Byte] = {
    val le = Array[Byte]((block & 0xff).toByte, ((block >> 8) & 0xff).toByte,
      ((block >> 16) & 0xff).toByte, ((block >> 24) & 0xff).toByte)
    md5(base5, le)
  }

  /** Password check against the FILEPASS verifier pair (one continuous
    * block-0 keystream over verifier then hash).
    */
  def verifyPassword(base5: Array[Byte], encVerifier: Array[Byte],
                     encVerifierHash: Array[Byte]): Boolean = {
    val plain = rc4(blockKey(base5, 0), encVerifier ++ encVerifierHash)
    md5(plain.take(encVerifier.length)).sameElements(plain.drop(encVerifier.length))
  }

  /** Parsed FILEPASS — one case per encryption variant. */
  sealed trait FilePass
  /** Standard RC4 (version 1.1). */
  case class FilePassRc4(salt: Array[Byte], encVerifier: Array[Byte],
                         encVerifierHash: Array[Byte]) extends FilePass
  /** RC4 CryptoAPI (version ≥ 2.2); keyBits from the encryption header
    * (0 in the header means the 40-bit default per MS-OFFCRYPTO).
    */
  case class FilePassCryptoApi(keyBits: Int, salt: Array[Byte],
                               encVerifier: Array[Byte],
                               encVerifierHash: Array[Byte]) extends FilePass
  /** XOR obfuscation: 16-bit key + 16-bit verifier. */
  case class FilePassXor(key: Int, verifier: Int) extends FilePass

  private def u16(b: Array[Byte], o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
    ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** Locate FILEPASS among the first records of the globals substream
    * and parse whichever variant it carries (MS-XLS §2.4.117).
    */
  def findFilePass(wb: Array[Byte]): Option[(Int, FilePass)] = {
    var o = 0
    var seen = 0
    while (o + 4 <= wb.length && seen < 8) {
      val id = u16(wb, o); val len = u16(wb, o + 2); val body = o + 4
      if (id == FilePassSid) {
        val fp =
          if (u16(wb, body) == 0)
            FilePassXor(u16(wb, body + 2), u16(wb, body + 4))
          else {
            val vMajor = u16(wb, body + 2); val vMinor = u16(wb, body + 4)
            if (vMajor == 1 && vMinor == 1)
              FilePassRc4(
                wb.slice(body + 6, body + 22),
                wb.slice(body + 22, body + 38),
                wb.slice(body + 38, body + 54))
            else if (vMajor >= 2 && vMinor == 2) {
              // EncryptionInfo: Flags u32, HeaderSize u32, Header
              // (Flags, SizeExtra, AlgID, AlgIDHash, KeySize, ...),
              // then EncryptionVerifier
              val headerSize = u32(wb, body + 10)
              val hdr = body + 14
              val keyBits0 = u32(wb, hdr + 16)
              val keyBits = if (keyBits0 == 0) 40 else keyBits0
              var p = hdr + headerSize
              val saltSize = u32(wb, p); p += 4
              require(saltSize == 16, s"unexpected CryptoAPI salt size $saltSize")
              val salt = wb.slice(p, p + 16); p += 16
              val encVerifier = wb.slice(p, p + 16); p += 16
              val hashSize = u32(wb, p); p += 4
              require(hashSize == 20, s"unexpected verifier hash size $hashSize")
              FilePassCryptoApi(keyBits, salt, encVerifier, wb.slice(p, p + 20))
            } else throw new IllegalArgumentException(
              s".xls encryption version $vMajor.$vMinor not supported")
          }
        return Some((o, fp))
      }
      o = body + len; seen += 1
    }
    None
  }

  // -------------------------------------------------------- CryptoAPI
  /** SHA-1 intermediate from password + salt (MS-OFFCRYPTO §2.3.5.2). */
  def cryptoApiKeyBase(password: String, salt: Array[Byte]): Array[Byte] =
    sha1(salt, password.getBytes("UTF-16LE"))

  /** Per-1024-byte-block RC4 key: `SHA1(H ++ LE32(block))` truncated to
    * `keyBits`; the 40-bit legacy quirk keeps a 16-byte key with bytes
    * 5..15 zeroed (MS-OFFCRYPTO §2.3.5.2 step 4).
    */
  def cryptoApiBlockKey(base: Array[Byte], block: Int, keyBits: Int): Array[Byte] = {
    val h = sha1(base, le32Bytes(block))
    if (keyBits == 40) h.take(5) ++ new Array[Byte](11)
    else h.take(keyBits / 8)
  }

  /** CryptoAPI password check: 16-byte verifier + 20-byte SHA-1 hash,
    * one continuous block-0 keystream.
    */
  def verifyPasswordCryptoApi(base: Array[Byte], keyBits: Int,
                              encVerifier: Array[Byte],
                              encVerifierHash: Array[Byte]): Boolean = {
    val plain = rc4(cryptoApiBlockKey(base, 0, keyBits), encVerifier ++ encVerifierHash)
    sha1(plain.take(encVerifier.length)).sameElements(plain.drop(encVerifier.length))
  }

  /** XOR the keystream over every encryptable byte range of `wb`
    * (shared by decrypt and the fixture-side encrypt — RC4 is an
    * involution under XOR). Keystream position == absolute stream
    * offset; rekey at every 1024-byte boundary; discarded for record
    * headers, [[PlaintextSids]] bodies, and BoundSheet8's 4-byte
    * lbPlyPos. `keyForBlock` supplies the MD5 (standard) or SHA-1
    * (CryptoAPI) block key.
    */
  private def applyKeystream(wb: Array[Byte],
                             keyForBlock: Int => Array[Byte]): Array[Byte] = {
    val out = wb.clone()
    var keystream: Array[Byte] = null
    var block = -1
    def k(offset: Int): Int = {
      val b = offset / 1024
      if (b != block) { block = b; keystream = rc4(keyForBlock(b), new Array[Byte](1024)) }
      keystream(offset % 1024)
    }
    var o = 0
    while (o + 4 <= wb.length) {
      val id = u16(wb, o); val len = u16(wb, o + 2)
      var p = o + 4 // the header's keystream bytes are discarded
      val end = o + 4 + len
      val plainPrefix = if (id == 0x0085) 4 else 0 // BoundSheet8 lbPlyPos
      while (p < end && p < wb.length) {
        if (!PlaintextSids.contains(id) && p - (o + 4) >= plainPrefix)
          out(p) = (wb(p) ^ k(p)).toByte
        p += 1
      }
      o = end
    }
    out
  }

  /** The XOR-obfuscation analog of [[applyKeystream]]: per-record byte
    * transform against the 16-byte array, index keyed to the record
    * data's END offset (`(dataEnd + position-in-data) & 0xF`), same
    * plaintext exemptions. The transform itself is direction-specific
    * ([[XlsXor.encryptByte]]/[[XlsXor.decryptByte]]), not an involution.
    */
  private def applyXor(wb: Array[Byte], xorArray: Array[Byte],
                       encrypt: Boolean): Array[Byte] = {
    val out = wb.clone()
    var o = 0
    while (o + 4 <= wb.length) {
      val id = u16(wb, o); val len = u16(wb, o + 2)
      val start = o + 4
      val end = start + len
      if (!PlaintextSids.contains(id)) {
        val plainPrefix = if (id == 0x0085) 4 else 0 // BoundSheet8 lbPlyPos
        var p = start
        while (p < end && p < wb.length) {
          if (p - start >= plainPrefix) {
            val k = xorArray((end + (p - start)) & 0xf) & 0xff
            out(p) =
              (if (encrypt) XlsXor.encryptByte(wb(p) & 0xff, k)
               else XlsXor.decryptByte(wb(p) & 0xff, k)).toByte
          }
          p += 1
        }
      }
      o = end
    }
    out
  }

  /** Decrypt a workbook stream in place (FILEPASS stays, plaintext),
    * dispatching on the FILEPASS variant. Throws
    * IllegalArgumentException on a wrong password.
    */
  def decryptWorkbookStream(wb: Array[Byte], password: String): Array[Byte] = {
    val (_, fp) = findFilePass(wb).getOrElse(return wb)
    fp match {
      case FilePassRc4(salt, encVerifier, encVerifierHash) =>
        val base5 = keyBase(password, salt)
        if (!verifyPassword(base5, encVerifier, encVerifierHash))
          throw new IllegalArgumentException("wrong .xls password")
        applyKeystream(wb, blockKey(base5, _))
      case FilePassCryptoApi(keyBits, salt, encVerifier, encVerifierHash) =>
        val base = cryptoApiKeyBase(password, salt)
        if (!verifyPasswordCryptoApi(base, keyBits, encVerifier, encVerifierHash))
          throw new IllegalArgumentException("wrong .xls password")
        applyKeystream(wb, cryptoApiBlockKey(base, _, keyBits))
      case FilePassXor(_, verifier) =>
        if (XlsXor.createVerifier(password) != verifier)
          throw new IllegalArgumentException("wrong .xls password")
        applyXor(wb, XlsXor.createXorArray(password), encrypt = false)
    }
  }

  /** Fixture-side: encrypt a plaintext workbook stream that already
    * contains a standard-RC4 FILEPASS record carrying `salt`.
    */
  private[sources] def encryptWorkbookStream(wb: Array[Byte], password: String,
                                             salt: Array[Byte]): Array[Byte] =
    applyKeystream(wb, blockKey(keyBase(password, salt), _))

  /** Fixture-side CryptoAPI encrypt (salt from [[filePassBodyCryptoApi]]). */
  private[sources] def encryptWorkbookStreamCryptoApi(
      wb: Array[Byte], password: String, salt: Array[Byte],
      keyBits: Int): Array[Byte] =
    applyKeystream(wb,
      cryptoApiBlockKey(cryptoApiKeyBase(password, salt), _, keyBits))

  /** Fixture-side XOR obfuscate. */
  private[sources] def encryptWorkbookStreamXor(wb: Array[Byte],
                                                password: String): Array[Byte] =
    applyXor(wb, XlsXor.createXorArray(password), encrypt = true)

  /** Fixture-side FILEPASS body for `password` with a deterministic
    * salt/verifier derived from it (standard RC4 variant).
    */
  private[sources] def filePassBody(password: String): (Array[Byte], Array[Byte]) = {
    val salt = md5(("salt:" + password).getBytes("UTF-8"))
    val verifier = md5(("verifier:" + password).getBytes("UTF-8"))
    val verifierHash = md5(verifier)
    val base5 = keyBase(password, salt)
    val enc = rc4(blockKey(base5, 0), verifier ++ verifierHash)
    val body = Array[Byte](1, 0, 1, 0, 1, 0) ++ salt ++ enc
    (body, salt)
  }

  /** Fixture-side FILEPASS body, RC4 CryptoAPI variant (version 2.2,
    * AlgID RC4 = 0x6801, AlgIDHash SHA-1 = 0x8004).
    */
  private[sources] def filePassBodyCryptoApi(password: String,
                                             keyBits: Int): (Array[Byte], Array[Byte]) = {
    val salt = md5(("capi-salt:" + password).getBytes("UTF-8"))
    val verifier = md5(("capi-verifier:" + password).getBytes("UTF-8"))
    val verifierHash = sha1(verifier)
    val base = cryptoApiKeyBase(password, salt)
    val enc = rc4(cryptoApiBlockKey(base, 0, keyBits), verifier ++ verifierHash)
    val csp = "Microsoft Enhanced Cryptographic Provider v1.0\u0000"
      .getBytes("UTF-16LE")
    // header: Flags(fCryptoAPI) SizeExtra AlgID AlgIDHash KeySize
    // ProviderType Reserved1 Reserved2 CSPName
    val header = le32Bytes(0x04) ++ le32Bytes(0) ++ le32Bytes(0x6801) ++
      le32Bytes(0x8004) ++ le32Bytes(keyBits) ++ le32Bytes(0x01) ++
      le32Bytes(0) ++ le32Bytes(0) ++ csp
    val body = Array[Byte](1, 0) ++ // wEncryptionType = 1
      Array[Byte](2, 0, 2, 0) ++    // version 2.2
      le32Bytes(0x04) ++             // EncryptionInfo flags
      le32Bytes(header.length) ++
      header ++
      le32Bytes(16) ++ salt ++
      enc.take(16) ++
      le32Bytes(20) ++ enc.drop(16)
    (body, salt)
  }

  /** Fixture-side FILEPASS body, XOR-obfuscation variant. */
  private[sources] def filePassBodyXor(password: String): Array[Byte] = {
    val key = XlsXor.createKey(password)
    val verifier = XlsXor.createVerifier(password)
    Array[Byte](0, 0,
      (key & 0xff).toByte, ((key >> 8) & 0xff).toByte,
      (verifier & 0xff).toByte, ((verifier >> 8) & 0xff).toByte)
  }
}
