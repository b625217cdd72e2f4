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
  * One permutation ([[sip]]) serves every entry point through two message
  * front-ends: inputs of ≤ 16 bytes packed as words (`hashInt`, `hashLong`,
  * `hash128IntInto`, `hash128LongInto`: allocation-free, the per-token path
  * of every build) and a byte range (`hash64`, `hash64Range`, `hashString`,
  * `hash128Into`). 128-bit results are written as `(hi, lo)` into
  * `out(0)`, `out(1)`: `lo` is the first output word, `hi` the second.
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

  /** Final block of a `len`-byte message: its last `len % 8` bytes plus
    * `(len & 0xff) << 56`. */
  private def tailBlock(d: Array[Byte], len: Int): Long = {
    var b = len.toLong << 56
    var i = len
    while (i > (len & ~7)) {
      i -= 1
      b |= (d(i) & 0xffL) << (8 * (i & 7))
    }
    b
  }

  /** Final block of the canonical 4-byte encoding of an Int. */
  @inline private def intBlock(x: Int): Long = (4L << 56) | (x.toLong & 0xffffffffL)

  /** SipHash-2-4 over `nWords` full message words, then the final block
    * `b`. The words are read from `data`, or, when `data` is null (a packed
    * input of ≤ 16 bytes, so `nWords` ≤ 1), are the one word `m0`.
    *
    * With `out == null` this is the 64-bit hash, returned. Otherwise it is
    * the 128-bit variant, written as `(hi, lo)` into `out(0)`, `out(1)`; it
    * differs only in `v1 ^= 0xee` at init, `v2 ^= 0xee` (not `0xff`) at
    * finalization, and a second output word after `v1 ^= 0xdd` and 4 more
    * rounds.
    *
    * The final block is compressed outside the word loop, and the 64-bit
    * result returns before the 128-bit tail: folding either into the shared
    * loop or a width branch made the packed per-token path 5-20% slower
    * (JDK 17, 4-vCPU x86-64 VM).
    */
  private def sip(k0: Long, k1: Long, data: Array[Byte], nWords: Int, m0: Long, b: Long,
      out: Array[Long]): Long = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L
    if (out ne null) v1 ^= 0xee
    var w = 0
    while (w < nWords) {
      val m = if (data eq null) m0 else le64(data, w << 3)
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
      w += 1
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
    v2 ^= (if (out eq null) 0xffL else 0xeeL)
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    val first = v0 ^ v1 ^ v2 ^ v3
    if (out eq null) return first
    out(1) = first
    v1 ^= 0xdd
    r = 0
    while (r < 4) {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
      r += 1
    }
    out(0) = v0 ^ v1 ^ v2 ^ v3
    first
  }

  // --- 64-bit output ---

  /** SipHash-2-4 over raw bytes, 64-bit output. */
  def hash64(k0: Long, k1: Long, data: Array[Byte]): Long =
    hash64Range(k0, k1, data, data.length)

  /** [[hash64]] over the first `len` bytes of `data` — lets callers hash
    * out of a reusable scratch buffer without per-call array slicing
    * (value-identical to `hash64(k0, k1, data.take(len))`). */
  def hash64Range(k0: Long, k1: Long, data: Array[Byte], len: Int): Long =
    sip(k0, k1, data, len >>> 3, 0L, tailBlock(data, len), null)

  /** Hash an Int via its canonical 4-byte little-endian encoding. */
  def hashInt(k0: Long, k1: Long, x: Int): Long = sip(k0, k1, null, 0, 0L, intBlock(x), null)

  /** Hash a Long via its canonical 8-byte little-endian encoding. */
  def hashLong(k0: Long, k1: Long, x: Long): Long = sip(k0, k1, null, 1, x, 8L << 56, null)

  /** Hash a String via its UTF-8 bytes. */
  def hashString(k0: Long, k1: Long, s: String): Long =
    hash64(k0, k1, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // --- 128-bit output, written as (hi, lo) into out(0), out(1) ---

  /** SipHash-2-4-128 over the first `len` bytes of `data` (strings as their
    * UTF-8 bytes); no per-call slice or result allocation, so scratch-buffer
    * loops such as the MinHash shingles stay allocation-free. */
  def hash128Into(k0: Long, k1: Long, data: Array[Byte], len: Int, out: Array[Long]): Unit =
    sip(k0, k1, data, len >>> 3, 0L, tailBlock(data, len), out)

  /** 128-bit hash of an Int (canonical 4-byte LE encoding). */
  def hash128IntInto(k0: Long, k1: Long, x: Int, out: Array[Long]): Unit =
    sip(k0, k1, null, 0, 0L, intBlock(x), out)

  /** 128-bit hash of a Long (canonical 8-byte LE encoding). */
  def hash128LongInto(k0: Long, k1: Long, x: Long, out: Array[Long]): Unit =
    sip(k0, k1, null, 1, x, 8L << 56, out)
}
