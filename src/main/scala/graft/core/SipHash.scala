package graft.core

/** SipHash-2-4 (64-bit) and SipHash-2-4 with 128-bit output, keyed by
  * `(k0, k1)`, over canonical little-endian byte encodings.
  *
  * Why a hand-rolled keyed hash: every executor must map an element to the
  * same 64/128 hash bits or distributed sketch merges are meaningless. The
  * JVM has no stable keyed 64/128-bit hash; `Object.hashCode` is
  * JVM-dependent. This mirrors the reference's use of SipHash via a `SipKey`
  * (reference `src/Control/Concurrent/BloomFilter/Internal.hs:126-133,
  * 392-396`); we use the 2-4 variant (the original Aumasson–Bernstein
  * parameters with published test vectors) rather than hashabler's 1-3 —
  * behavior equivalence does not require bit-identical hashes, only a keyed,
  * uniform, deterministic 64/128-bit function.
  *
  * All methods are pure and allocation-free for inputs ≤ 16 bytes (the
  * Int/Long hot paths used per token insert).
  */
object SipHash {

  @inline private def rotl(x: Long, b: Int): Long = (x << b) | (x >>> (64 - b))

  /** Little-endian Long from 8 bytes at offset `i`. */
  @inline private def le64(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) |
      ((d(i + 1) & 0xffL) << 8) |
      ((d(i + 2) & 0xffL) << 16) |
      ((d(i + 3) & 0xffL) << 24) |
      ((d(i + 4) & 0xffL) << 32) |
      ((d(i + 5) & 0xffL) << 40) |
      ((d(i + 6) & 0xffL) << 48) |
      ((d(i + 7) & 0xffL) << 56)

  /** Final partial block: remaining `n % 8` bytes plus `(n & 0xff) << 56`. */
  private def tailBlock(d: Array[Byte], from: Int, n: Int): Long = {
    var b = (n.toLong & 0xff) << 56
    var j = n - from
    while (j > 0) {
      j -= 1
      b |= (d(from + j) & 0xffL) << (8 * j)
    }
    b
  }

  /** SipHash-2-4 over raw bytes, 64-bit output. */
  def hash64(k0: Long, k1: Long, data: Array[Byte]): Long =
    hash64Range(k0, k1, data, data.length)

  /** [[hash64]] over the first `len` bytes of `data` — lets callers hash
    * out of a reusable scratch buffer without per-call array slicing
    * (value-identical to `hash64(k0, k1, data.take(len))`). */
  def hash64Range(k0: Long, k1: Long, data: Array[Byte], len: Int): Long = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    val n = len
    val end = n - (n % 8)
    var i = 0
    while (i < end) {
      val m = le64(data, i)
      v3 ^= m
      var r = 0
      while (r < 2) { // SIPROUND x2
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m
      i += 8
    }
    val b = tailBlock(data, end, n)
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xff
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^ v1 ^ v2 ^ v3
  }

  /** Allocation-free SipHash-2-4 for inputs of ≤ 16 bytes packed as two
    * little-endian message words. `nBlocks` ∈ {0, 1}: number of full 8-byte
    * blocks (`m0`); `b` is the final block (tail bytes | length << 56).
    */
  private def hash64Short(k0: Long, k1: Long, m0: Long, nBlocks: Int, b: Long): Long = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    if (nBlocks == 1) {
      v3 ^= m0
      var r = 0
      while (r < 2) {
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m0
    }
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xff
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^ v1 ^ v2 ^ v3
  }

  /** Hash an Int via its canonical 4-byte little-endian encoding. */
  def hashInt(k0: Long, k1: Long, x: Int): Long =
    hash64Short(k0, k1, 0L, 0, (4L << 56) | (x.toLong & 0xffffffffL))

  /** Hash a Long via its canonical 8-byte little-endian encoding. */
  def hashLong(k0: Long, k1: Long, x: Long): Long =
    hash64Short(k0, k1, x, 1, 8L << 56)

  /** Hash a String via its UTF-8 bytes. */
  def hashString(k0: Long, k1: Long, s: String): Long =
    hash64(k0, k1, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ---------------------------------------------------------------------
  // 128-bit variant (SipHash-2-4-128): v1 ^= 0xee at init, v2 ^= 0xee at
  // finalization; second output word after v1 ^= 0xdd and 4 more rounds.
  // ---------------------------------------------------------------------

  /** SipHash-2-4 with 128-bit output over raw bytes.
    * Returns `(hi, lo)`: `lo` is the first output word, `hi` the second.
    */
  def hash128(k0: Long, k1: Long, data: Array[Byte]): (Long, Long) = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL ^ 0xee
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    val n = data.length
    val end = n - (n % 8)
    var i = 0
    while (i < end) {
      val m = le64(data, i)
      v3 ^= m
      var r = 0
      while (r < 2) {
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m
      i += 8
    }
    val b = tailBlock(data, end, n)
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xee
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    val lo = v0 ^ v1 ^ v2 ^ v3
    v1 ^= 0xdd
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    val hi = v0 ^ v1 ^ v2 ^ v3
    (hi, lo)
  }

  /** [[hash128]] over the first `len` bytes of `data`, writing (hi, lo)
    * into `out(0)`, `out(1)` — the allocation-free bulk variant (no Tuple2
    * per call, no per-call array slice; value-identical to
    * `hash128(k0, k1, data.take(len))`). The MinHash shingle loop calls
    * this 10^8+ times per bench lap, where the tuple-returning form's
    * allocation was pure GC pressure. */
  def hash128Into(k0: Long, k1: Long, data: Array[Byte], len: Int, out: Array[Long]): Unit = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL ^ 0xee
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    val n = len
    val end = n - (n % 8)
    var i = 0
    while (i < end) {
      val m = le64(data, i)
      v3 ^= m
      var r = 0
      while (r < 2) {
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m
      i += 8
    }
    val b = tailBlock(data, end, n)
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xee
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    out(1) = v0 ^ v1 ^ v2 ^ v3 // lo
    v1 ^= 0xdd
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    out(0) = v0 ^ v1 ^ v2 ^ v3 // hi
  }

  /** 128-bit hash of an Int (canonical 4-byte LE encoding). */
  def hash128Int(k0: Long, k1: Long, x: Int): (Long, Long) =
    hash128Short(k0, k1, 0L, 0, (4L << 56) | (x.toLong & 0xffffffffL))

  /** Allocation-free variant of [[hash128Int]]: writes (hi, lo) into
    * `out(0)`, `out(1)`. The tuple-returning form allocates per call
    * (hash128Short is too large for the JIT to inline, so escape analysis
    * cannot elide the Tuple2) — at 10^9 tokens that is 10^9 allocations in
    * the hot aggregation loop. */
  def hash128IntInto(k0: Long, k1: Long, x: Int, out: Array[Long]): Unit =
    hash128ShortInto(k0, k1, 0L, 0, (4L << 56) | (x.toLong & 0xffffffffL), out)

  private def hash128ShortInto(k0: Long, k1: Long, m0: Long, nBlocks: Int, b: Long, out: Array[Long]): Unit = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL ^ 0xee
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    if (nBlocks == 1) {
      v3 ^= m0
      var r = 0
      while (r < 2) {
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m0
    }
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xee
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    out(1) = v0 ^ v1 ^ v2 ^ v3 // lo
    v1 ^= 0xdd
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    out(0) = v0 ^ v1 ^ v2 ^ v3 // hi
  }

  /** 128-bit hash of a Long (canonical 8-byte LE encoding). */
  def hash128Long(k0: Long, k1: Long, x: Long): (Long, Long) =
    hash128Short(k0, k1, x, 1, 8L << 56)

  /** 128-bit hash of a String (UTF-8 bytes). */
  def hash128String(k0: Long, k1: Long, s: String): (Long, Long) =
    hash128(k0, k1, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def hash128Short(k0: Long, k1: Long, m0: Long, nBlocks: Int, b: Long): (Long, Long) = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL ^ 0xee
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    if (nBlocks == 1) {
      v3 ^= m0
      var r = 0
      while (r < 2) {
        v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
        v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
        v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
        v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
        r += 1
      }
      v0 ^= m0
    }
    v3 ^= b
    var r = 0
    while (r < 2) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    v0 ^= b
    v2 ^= 0xee
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    val lo = v0 ^ v1 ^ v2 ^ v3
    v1 ^= 0xdd
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    val hi = v0 ^ v1 ^ v2 ^ v3
    (hi, lo)
  }

  // ---------------------------------------------------------------------
  // Canonical byte encodings (cross-engine stable; used for golden tests
  // and for hashing composite values).
  // ---------------------------------------------------------------------

  def encodeInt(x: Int): Array[Byte] = {
    val a = new Array[Byte](4)
    a(0) = x.toByte; a(1) = (x >>> 8).toByte; a(2) = (x >>> 16).toByte; a(3) = (x >>> 24).toByte
    a
  }

  def encodeLong(x: Long): Array[Byte] = {
    val a = new Array[Byte](8)
    var i = 0
    while (i < 8) { a(i) = (x >>> (8 * i)).toByte; i += 1 }
    a
  }
}
