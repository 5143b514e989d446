package graft.sources

import javax.crypto.Cipher
import javax.crypto.spec.{ChaCha20ParameterSpec, SecretKeySpec}

/** Crypto primitives for the KDBX 4 container. The JDK has no BLAKE2b
  * or Argon2, so these are implemented from the public RFCs:
  *
  *  - BLAKE2b (RFC 7693) — the hash inside Argon2.
  *  - Argon2d / Argon2i / Argon2id (RFC 9106) — the kdbx4 KDF.
  *
  * ChaCha20 (RFC 8439, the kdbx4 payload cipher and inner stream),
  * HMAC-SHA256, SHA-256 and SHA-512 come from the JDK.
  */
object Kdbx4Crypto {

  // ------------------------------------------------------------ BLAKE2b
  private val Blake2bIV: Array[Long] = Array(
    0x6a09e667f3bcc908L, 0xbb67ae8584caa73bL, 0x3c6ef372fe94f82bL,
    0xa54ff53a5f1d36f1L, 0x510e527fade682d1L, 0x9b05688c2b3e6c1fL,
    0x1f83d9abfb41bd6bL, 0x5be0cd19137e2179L)

  private val Blake2bSigma: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    Array(14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3),
    Array(11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4),
    Array(7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8),
    Array(9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13),
    Array(2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9),
    Array(12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11),
    Array(13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10),
    Array(6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5),
    Array(10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0))

  private def le64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
    v
  }

  private def putLe64(v: Long, b: Array[Byte], o: Int): Unit = {
    var x = v
    var i = 0
    while (i < 8) { b(o + i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
  }

  /** BLAKE2b with configurable digest length (1..64), no key. */
  final class Blake2b(digestLength: Int) {
    require(digestLength >= 1 && digestLength <= 64)
    private val h = Blake2bIV.clone()
    h(0) ^= 0x01010000L ^ digestLength.toLong
    private val buf = new Array[Byte](128)
    private var bufLen = 0
    private var t0 = 0L // low 64 bits of byte counter
    private var t1 = 0L

    private def g(v: Array[Long], a: Int, b: Int, c: Int, d: Int, x: Long, y: Long): Unit = {
      v(a) = v(a) + v(b) + x
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 32)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 24)
      v(a) = v(a) + v(b) + y
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 16)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 63)
    }

    private def compress(block: Array[Byte], off: Int, last: Boolean): Unit = {
      val m = new Array[Long](16)
      var i = 0
      while (i < 16) { m(i) = le64(block, off + i * 8); i += 1 }
      val v = new Array[Long](16)
      System.arraycopy(h, 0, v, 0, 8)
      System.arraycopy(Blake2bIV, 0, v, 8, 8)
      v(12) ^= t0
      v(13) ^= t1
      if (last) v(14) = ~v(14)
      var r = 0
      while (r < 12) {
        val s = Blake2bSigma(r % 10)
        g(v, 0, 4, 8, 12, m(s(0)), m(s(1)))
        g(v, 1, 5, 9, 13, m(s(2)), m(s(3)))
        g(v, 2, 6, 10, 14, m(s(4)), m(s(5)))
        g(v, 3, 7, 11, 15, m(s(6)), m(s(7)))
        g(v, 0, 5, 10, 15, m(s(8)), m(s(9)))
        g(v, 1, 6, 11, 12, m(s(10)), m(s(11)))
        g(v, 2, 7, 8, 13, m(s(12)), m(s(13)))
        g(v, 3, 4, 9, 14, m(s(14)), m(s(15)))
        r += 1
      }
      i = 0
      while (i < 8) { h(i) ^= v(i) ^ v(i + 8); i += 1 }
    }

    def update(data: Array[Byte], off: Int, len: Int): this.type = {
      var o = off
      var left = len
      while (left > 0) {
        if (bufLen == 128) {
          t0 += 128
          if (t0 == 0) t1 += 1 // carry (inputs here never reach 2^64)
          compress(buf, 0, last = false)
          bufLen = 0
        }
        val take = math.min(left, 128 - bufLen)
        System.arraycopy(data, o, buf, bufLen, take)
        bufLen += take; o += take; left -= take
      }
      this
    }

    def update(data: Array[Byte]): this.type = update(data, 0, data.length)

    def digest(): Array[Byte] = {
      t0 += bufLen
      java.util.Arrays.fill(buf, bufLen, 128, 0.toByte)
      compress(buf, 0, last = true)
      val out = new Array[Byte](64)
      var i = 0
      while (i < 8) { putLe64(h(i), out, i * 8); i += 1 }
      out.take(digestLength)
    }
  }

  def blake2b(digestLength: Int, parts: Array[Byte]*): Array[Byte] = {
    val b = new Blake2b(digestLength)
    parts.foreach(b.update)
    b.digest()
  }

  // ------------------------------------------------------------- Argon2
  /** Argon2 type: 0 = Argon2d, 1 = Argon2i, 2 = Argon2id. */
  object Argon2Type { val D = 0; val I = 1; val Id = 2 }

  private def le32Bytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  /** Variable-length hash H' (RFC 9106 §3.3). */
  private def hPrime(outLen: Int, x: Array[Byte]): Array[Byte] = {
    if (outLen <= 64) blake2b(outLen, le32Bytes(outLen), x)
    else {
      val r = (outLen + 31) / 32 - 2
      val out = new Array[Byte](outLen)
      var v = blake2b(64, le32Bytes(outLen), x) // V_1
      var i = 0
      while (i < r) {
        System.arraycopy(v, 0, out, i * 32, 32) // A_{i+1} = first 32 of V_{i+1}
        if (i < r - 1) v = blake2b(64, v)
        i += 1
      }
      // V_{r+1} = Blake2b-(outLen - 32r)(V_r) — digest LENGTH matters in
      // Blake2b (it enters h0), so this is NOT a truncation of a 64-byte
      // digest
      val lastLen = outLen - 32 * r
      System.arraycopy(blake2b(lastLen, v), 0, out, 32 * r, lastLen)
      out
    }
  }

  /** BlaMka permutation round on 16 64-bit words (RFC 9106 §3.6). */
  private def blamkaG(v: Array[Long], a: Int, b: Int, c: Int, d: Int): Unit = {
    def f(x: Long, y: Long): Long = x + y + 2L * (x & 0xffffffffL) * (y & 0xffffffffL)
    v(a) = f(v(a), v(b))
    v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 32)
    v(c) = f(v(c), v(d))
    v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 24)
    v(a) = f(v(a), v(b))
    v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 16)
    v(c) = f(v(c), v(d))
    v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 63)
  }

  private def blamkaP(v: Array[Long], i: Array[Int]): Unit = {
    blamkaG(v, i(0), i(4), i(8), i(12))
    blamkaG(v, i(1), i(5), i(9), i(13))
    blamkaG(v, i(2), i(6), i(10), i(14))
    blamkaG(v, i(3), i(7), i(11), i(15))
    blamkaG(v, i(0), i(5), i(10), i(15))
    blamkaG(v, i(1), i(6), i(11), i(12))
    blamkaG(v, i(2), i(7), i(8), i(13))
    blamkaG(v, i(3), i(4), i(9), i(14))
  }

  /** Compression G(X, Y) over 1024-byte blocks as 128 longs (§3.5). */
  private def argonG(x: Array[Long], y: Array[Long], out: Array[Long],
                     withXor: Boolean): Unit = {
    val r = new Array[Long](128)
    var i = 0
    while (i < 128) { r(i) = x(i) ^ y(i); i += 1 }
    val q = r.clone()
    // rows: words (16i .. 16i+15)
    i = 0
    while (i < 8) {
      blamkaP(q, Array.tabulate(16)(j => 16 * i + j))
      i += 1
    }
    // columns: word pairs (2i, 2i+1, 2i+16, ...)
    i = 0
    while (i < 8) {
      blamkaP(q, Array.tabulate(16)(j => 2 * i + 16 * (j / 2) + (j % 2)))
      i += 1
    }
    i = 0
    while (i < 128) {
      val v = q(i) ^ r(i)
      out(i) = if (withXor) out(i) ^ v else v
      i += 1
    }
  }

  /** Argon2 (RFC 9106). `memoryKib` is the m parameter in KiB; output is
    * `outLen` bytes. Secret/associated-data inputs are empty (KeePass
    * uses none).
    */
  def argon2(variant: Int, password: Array[Byte], salt: Array[Byte],
             parallelism: Int, memoryKib: Int, iterations: Int,
             outLen: Int = 32, version: Int = 0x13,
             secret: Array[Byte] = Array.empty,
             ad: Array[Byte] = Array.empty): Array[Byte] = {
    val p = parallelism
    require(p >= 1 && memoryKib >= 8 * p && iterations >= 1, "invalid argon2 parameters")
    val h0 = {
      val b = new Blake2b(64)
      b.update(le32Bytes(p)).update(le32Bytes(outLen)).update(le32Bytes(memoryKib))
        .update(le32Bytes(iterations)).update(le32Bytes(version)).update(le32Bytes(variant))
        .update(le32Bytes(password.length)).update(password)
        .update(le32Bytes(salt.length)).update(salt)
        .update(le32Bytes(secret.length)).update(secret)
        .update(le32Bytes(ad.length)).update(ad)
      b.digest()
    }
    val mPrime = 4 * p * (memoryKib / (4 * p))
    val q = mPrime / p // columns per lane
    val sl = q / 4 // segment length
    // memory: lane-major [lane][column] of 128-long blocks
    val mem = Array.ofDim[Long](p, q, 128)
    def loadBlock(lane: Int, col: Int, bytes: Array[Byte]): Unit = {
      var i = 0
      while (i < 128) { mem(lane)(col)(i) = le64(bytes, i * 8); i += 1 }
    }
    var lane = 0
    while (lane < p) {
      loadBlock(lane, 0, hPrime(1024, h0 ++ le32Bytes(0) ++ le32Bytes(lane)))
      loadBlock(lane, 1, hPrime(1024, h0 ++ le32Bytes(1) ++ le32Bytes(lane)))
      lane += 1
    }
    val zeroBlock = new Array[Long](128)
    var pass = 0
    while (pass < iterations) {
      var slice = 0
      while (slice < 4) {
        val dataIndependent =
          variant == Argon2Type.I || (variant == Argon2Type.Id && pass == 0 && slice < 2)
        lane = 0
        while (lane < p) {
          // address generation for data-independent segments (§3.4.1.2)
          var addrBlock: Array[Long] = null
          var addrCounter = 0L
          def nextAddress(i: Int): (Long, Int) = {
            val pos = i % 128
            // generate at every 128-aligned index AND on first use (the
            // first segment starts at index 2 but consumes positions of
            // the counter-1 address block, like the reference impl)
            if (addrBlock == null || pos == 0) {
              addrCounter += 1
              val z = new Array[Long](128)
              z(0) = pass.toLong; z(1) = lane.toLong; z(2) = slice.toLong
              z(3) = mPrime.toLong; z(4) = iterations.toLong; z(5) = variant.toLong
              z(6) = addrCounter
              val tmp = new Array[Long](128)
              argonG(zeroBlock, z, tmp, withXor = false)
              addrBlock = new Array[Long](128)
              argonG(zeroBlock, tmp, addrBlock, withXor = false)
            }
            val v = addrBlock(pos)
            (v & 0xffffffffL, ((v >>> 32) & 0xffffffffL).toInt)
          }
          val startIdx = if (pass == 0 && slice == 0) 2 else 0
          var idx = startIdx
          while (idx < sl) {
            val col = slice * sl + idx
            val prevCol = if (col == 0) q - 1 else col - 1
            val (j1, j2raw) =
              if (dataIndependent) nextAddress(idx)
              else {
                val v = mem(lane)(prevCol)(0)
                (v & 0xffffffffL, ((v >>> 32) & 0xffffffffL).toInt)
              }
            val refLane =
              if (pass == 0 && slice == 0) lane
              else math.floorMod(j2raw, p)
            // reference area size |W| (§3.4.1.3)
            val sameLane = refLane == lane
            val finishedSegments = if (pass == 0) slice else 3
            var w =
              if (sameLane) finishedSegments * sl + idx - 1
              else finishedSegments * sl - (if (idx == 0) 1 else 0)
            if (w < 1) w = 1
            val x = (j1 * j1) >>> 32
            val y = (w * x) >>> 32
            val zz = w - 1 - y
            val startPos = if (pass == 0) 0 else (slice + 1) * sl % q
            val refCol = ((startPos + zz) % q).toInt
            argonG(mem(lane)(prevCol), mem(refLane)(refCol), mem(lane)(col),
              withXor = version == 0x13 && pass > 0)
            idx += 1
          }
          lane += 1
        }
        slice += 1
      }
      pass += 1
    }
    // final: XOR of last column across lanes → H'(outLen)
    val c = new Array[Long](128)
    lane = 0
    while (lane < p) {
      var i = 0
      while (i < 128) { c(i) ^= mem(lane)(q - 1)(i); i += 1 }
      lane += 1
    }
    val cBytes = new Array[Byte](1024)
    var i = 0
    while (i < 128) { putLe64(c(i), cBytes, i * 8); i += 1 }
    hPrime(outLen, cBytes)
  }

  // ------------------------------------------------------------ ChaCha20
  /** The JDK's ChaCha20 (RFC 8439): 32-byte key, 12-byte nonce, block
    * counter starting at `counter`. A stream cipher, so the same
    * instance decrypts and, for the fixture writers, encrypts.
    */
  def chaCha20(key: Array[Byte], nonce: Array[Byte], counter: Int = 0): Cipher = {
    val c = Cipher.getInstance("ChaCha20")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "ChaCha20"),
      new ChaCha20ParameterSpec(nonce, counter))
    c
  }
}
