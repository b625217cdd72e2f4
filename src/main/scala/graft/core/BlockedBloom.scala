package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Immutable configuration of a blocked ("bloom-1") filter.
  *
  * Mirrors the reference's constructor invariants (reference
  * `src/Control/Concurrent/BloomFilter/Internal.hs:168-191,402-410`):
  * one SipHash evaluation maps an element to exactly ONE 64-bit word
  * ("block") of the filter — a single cache-line touch — with `k` bits set
  * inside that word from successive 6-bit hash slices.
  *
  * Bit-layout contract (critical for union/fold across different sizes,
  * reference `Internal.hs:221-233`): treating the hash as a bit stream from
  * bit 0, the k member-bit positions come from the LOW-order 6k bits and the
  * word index from the bits immediately ABOVE them, masked by `l-1`. Two
  * filters sharing `(key, k)` but different `log2l` therefore agree on member
  * bits, and the smaller filter's word index is `largerIndex & (lSmall-1)` —
  * which is exactly what [[BlockedBloom.fold]] exploits.
  *
  * @param k0,k1 SipHash key (the reference's `SipKey`, `Internal.hs:126`)
  * @param k     bits set per element, ≥ 1
  * @param log2l log2 of the number of 64-bit words
  */
final case class BloomConfig(k0: Long, k1: Long, k: Int, log2l: Int) {
  if (k < 1)
    throw BloomConfig.invalid(s"k must be >= 1, got $k")
  if (log2l < 0 || log2l > 27)
    throw BloomConfig.invalid(
      s"log2l must be in [0, 27] (8*2^28+64 overflows the JVM byte-array limit), got $log2l")
  if (6L * k + log2l > 128)
    throw BloomConfig.invalid(s"6*k + log2l must be <= 128, got ${6L * k + log2l}")

  /** Words in the filter. */
  val l: Int = 1 << log2l
  val lMinus1: Long = (l - 1).toLong

  /** Whether a single 64-bit hash supplies all needed bits (index + member
    * bits); otherwise the 128-bit hash path is used (reference
    * `Internal.hs:402-410`). */
  val hash64Enough: Boolean = 6 * k + log2l <= 64

  /** Filter data size in bytes. */
  def sizeBytes: Int = 8 * l
}

object BloomConfig {
  def invalid(msg: String): IllegalArgumentException =
    new IllegalArgumentException(s"BloomConfig: $msg")
}

/** Pure static kernel for blocked-Bloom bit arithmetic plus an instance
  * wrapper. The filter state is a bare `Array[Long]` of `cfg.l` words so it
  * can live directly inside a Spark `Aggregator` buffer with a native
  * array encoder (no wrapper object crosses the shuffle).
  */
object BlockedBloom {

  /** Word index within the filter for a hashed element.
    * 64-bit path: bits just above the 6k member bits (`Internal.hs:229-230`).
    */
  @inline def wordIndex64(h: Long, cfg: BloomConfig): Int =
    (((h >>> (6 * cfg.k))) & cfg.lMinus1).toInt

  /** k-bit OR-mask from the low 6k bits of the hash, 6 bits per member bit
    * (reference `setKMemberBits`, `Internal.hs:268-314`; we keep the rolled
    * loop — the JIT unrolls small constant-bound loops).
    */
  @inline def mask64(h: Long, k: Int): Long = {
    var m = 0L
    var i = 0
    while (i < k) {
      m |= 1L << ((h >>> (6 * i)) & 63L).toInt
      i += 1
    }
    m
  }

  /** Extract up to 64 bits starting at `off` from the 128-bit value
    * `(hi << 64) | lo`. `off` in [1, 127]. */
  @inline private def extract128(hi: Long, lo: Long, off: Int): Long =
    if (off >= 64) hi >>> (off - 64)
    else if (off == 0) lo
    else (lo >>> off) | (hi << (64 - off))

  /** 128-bit path: same contract over the 128-bit hash stream — member-bit
    * slices from bit 0 upward, word index from the bits above 6k
    * (generalizes the 64-bit layout; cf. reference `Internal.hs:235-261`).
    */
  @inline def wordIndex128(hi: Long, lo: Long, cfg: BloomConfig): Int =
    (extract128(hi, lo, 6 * cfg.k) & cfg.lMinus1).toInt

  @inline def mask128(hi: Long, lo: Long, k: Int): Long = {
    var m = 0L
    var i = 0
    while (i < k) {
      m |= 1L << (extract128(hi, lo, 6 * i) & 63L).toInt
      i += 1
    }
    m
  }

  /** Insert a pre-hashed element (64-bit path). Returns true iff any bit was
    * newly set — "probably a new element" (reference `Internal.hs:449-454`).
    * Task-local mutation only; the distributed analogue of the reference's
    * atomic fetch-or is the aggregation monoid (each task owns its buffer).
    */
  @inline def insertHash64(words: Array[Long], cfg: BloomConfig, h: Long): Boolean = {
    val i = wordIndex64(h, cfg)
    val m = mask64(h, cfg.k)
    val old = words(i)
    words(i) = old | m
    (old | m) != old
  }

  @inline def containsHash64(words: Array[Long], cfg: BloomConfig, h: Long): Boolean = {
    val w = words(wordIndex64(h, cfg))
    val m = mask64(h, cfg.k)
    (w & m) == m
  }

  @inline def insertHash128(words: Array[Long], cfg: BloomConfig, hi: Long, lo: Long): Boolean = {
    val i = wordIndex128(hi, lo, cfg)
    val m = mask128(hi, lo, cfg.k)
    val old = words(i)
    words(i) = old | m
    (old | m) != old
  }

  @inline def containsHash128(words: Array[Long], cfg: BloomConfig, hi: Long, lo: Long): Boolean = {
    val w = words(wordIndex128(hi, lo, cfg))
    val m = mask128(hi, lo, cfg.k)
    (w & m) == m
  }

  // --- typed element entry points (canonical encodings via SipHash; a
  //     filter wider than 64 hash bits takes the 128-bit hash) ---

  def insertInt(words: Array[Long], cfg: BloomConfig, x: Int): Boolean =
    if (cfg.hash64Enough) insertHash64(words, cfg, SipHash.hashInt(cfg.k0, cfg.k1, x))
    else {
      val h = new Array[Long](2)
      SipHash.hash128IntInto(cfg.k0, cfg.k1, x, h)
      insertHash128(words, cfg, h(0), h(1))
    }

  def containsInt(words: Array[Long], cfg: BloomConfig, x: Int): Boolean =
    if (cfg.hash64Enough) containsHash64(words, cfg, SipHash.hashInt(cfg.k0, cfg.k1, x))
    else {
      val h = new Array[Long](2)
      SipHash.hash128IntInto(cfg.k0, cfg.k1, x, h)
      containsHash128(words, cfg, h(0), h(1))
    }

  def insertLong(words: Array[Long], cfg: BloomConfig, x: Long): Boolean =
    if (cfg.hash64Enough) insertHash64(words, cfg, SipHash.hashLong(cfg.k0, cfg.k1, x))
    else {
      val h = new Array[Long](2)
      SipHash.hash128LongInto(cfg.k0, cfg.k1, x, h)
      insertHash128(words, cfg, h(0), h(1))
    }

  def containsLong(words: Array[Long], cfg: BloomConfig, x: Long): Boolean =
    if (cfg.hash64Enough) containsHash64(words, cfg, SipHash.hashLong(cfg.k0, cfg.k1, x))
    else {
      val h = new Array[Long](2)
      SipHash.hash128LongInto(cfg.k0, cfg.k1, x, h)
      containsHash128(words, cfg, h(0), h(1))
    }

  def insertString(words: Array[Long], cfg: BloomConfig, s: String): Boolean =
    insertUtf8(words, cfg, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[insertString]] over the string's UTF-8 bytes. */
  def insertUtf8(words: Array[Long], cfg: BloomConfig, utf8: Array[Byte]): Boolean =
    if (cfg.hash64Enough) insertHash64(words, cfg, SipHash.hash64(cfg.k0, cfg.k1, utf8))
    else {
      val h = new Array[Long](2)
      SipHash.hash128Into(cfg.k0, cfg.k1, utf8, utf8.length, h)
      insertHash128(words, cfg, h(0), h(1))
    }

  def containsString(words: Array[Long], cfg: BloomConfig, s: String): Boolean =
    containsUtf8(words, cfg, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[containsString]] over the string's UTF-8 bytes. */
  def containsUtf8(words: Array[Long], cfg: BloomConfig, utf8: Array[Byte]): Boolean =
    if (cfg.hash64Enough) containsHash64(words, cfg, SipHash.hash64(cfg.k0, cfg.k1, utf8))
    else {
      val h = new Array[Long](2)
      SipHash.hash128Into(cfg.k0, cfg.k1, utf8, utf8.length, h)
      containsHash128(words, cfg, h(0), h(1))
    }

  // --- combining (reference `unionInto`/`intersectionInto`/`combine`,
  //     `Internal.hs:488-550`) ---

  /** In-place word-wise OR of `src` into `dst` (equal `log2l`). Lossless:
    * identical to having inserted src's elements into dst. */
  def unionInPlace(dst: Array[Long], src: Array[Long]): Array[Long] = {
    require(dst.length == src.length, s"union: size mismatch ${dst.length} vs ${src.length}")
    var i = 0
    while (i < dst.length) { dst(i) |= src(i); i += 1 }
    dst
  }

  /** In-place word-wise AND. Lossy: the result's FPR can exceed that of a
    * directly-built filter (reference `Internal.hs:494-505`). */
  def intersectInPlace(dst: Array[Long], src: Array[Long]): Array[Long] = {
    require(dst.length == src.length, s"intersect: size mismatch ${dst.length} vs ${src.length}")
    var i = 0
    while (i < dst.length) { dst(i) &= src(i); i += 1 }
    dst
  }

  /** Fold a filter down to a smaller `log2l` by OR-ing word `i` into word
    * `i & (lNew-1)` — lossless w.r.t. membership thanks to the bit-layout
    * contract (reference shrink-before-combine, `Internal.hs:526-546`).
    * Enables union/intersection of filters built at different sizes.
    */
  def fold(words: Array[Long], newLog2l: Int): Array[Long] = {
    require(newLog2l >= 0 && newLog2l <= 27, s"fold: invalid log2l $newLog2l")
    val lNew = 1 << newLog2l
    require(lNew <= words.length, s"fold: cannot grow ${words.length} -> $lNew")
    val out = new Array[Long](lNew)
    val m = lNew - 1
    var i = 0
    while (i < words.length) { out(i & m) |= words(i); i += 1 }
    out
  }

  /** Cross-size combine (the reference's `combine`, which serves both
    * `unionInto` and `intersectionInto` across sizes, `Internal.hs:509-550`):
    * folds the larger filter down to the smaller `log2l` first, then
    * word-wise OR (union, lossless) or AND (intersection, lossy). Requires
    * the same key, `k` and hash width; returns fresh words + the combined
    * config. */
  def combine(wa: Array[Long], cfgA: BloomConfig, wb: Array[Long], cfgB: BloomConfig,
      intersection: Boolean): (Array[Long], BloomConfig) = {
    require(cfgA.k0 == cfgB.k0 && cfgA.k1 == cfgB.k1, "combine: SipKey mismatch")
    require(cfgA.k == cfgB.k, s"combine: k mismatch ${cfgA.k} vs ${cfgB.k}")
    require(cfgA.hash64Enough == cfgB.hash64Enough,
      "combine: hash-width mismatch (different-size filters must share the hash path)")
    val target = math.min(cfgA.log2l, cfgB.log2l)
    val fa = if (cfgA.log2l == target) wa.clone() else fold(wa, target)
    val fb = if (cfgB.log2l == target) wb else fold(wb, target)
    val out = if (intersection) intersectInPlace(fa, fb) else unionInPlace(fa, fb)
    (out, if (cfgA.log2l == target) cfgA else cfgB)
  }

  /** Cross-size union (lossless w.r.t. membership at the folded size). */
  def unionFold(wa: Array[Long], cfgA: BloomConfig, wb: Array[Long], cfgB: BloomConfig): (Array[Long], BloomConfig) =
    combine(wa, cfgA, wb, cfgB, intersection = false)

  /** Cross-size intersection (lossy FPR-wise, never loses a common element). */
  def intersectFold(wa: Array[Long], cfgA: BloomConfig, wb: Array[Long], cfgB: BloomConfig): (Array[Long], BloomConfig) =
    combine(wa, cfgA, wb, cfgB, intersection = true)

  /** Fraction of set bits (diagnostic / saturation metric). */
  def loadFactor(words: Array[Long]): Double = {
    var bits = 0L
    var i = 0
    while (i < words.length) { bits += java.lang.Long.bitCount(words(i)); i += 1 }
    bits.toDouble / (64.0 * words.length)
  }

  // --- serialization (reference `serialize`/`deserialize`,
  //     `Internal.hs:658-804`): data words then a 64-byte metadata tail of
  //     8 big-endian Longs. The key itself is NOT stored, only its
  //     self-hash; deserialize validates against the caller's key. ---

  final val SerialVersion = 1L
  final val WordSizeBits = 64L

  /** Element-type tags (the analogue of the reference's `typeHash`,
    * `Internal.hs:683-695`): serialized filters refuse to deserialize as a
    * different element type. */
  object TypeTag {
    val Int = 1L; val Long = 2L; val String = 3L; val Binary = 4L
    def name(tag: Long): String = tag match {
      case Int => "int"; case Long => "bigint"; case String => "string"
      case Binary => "binary"; case t => s"unknown($t)"
    }
  }

  /** Reject a cross-type probe/merge loudly (the reference's typeHash check,
    * `Internal.hs:789`): probing an element type the filter was not built
    * for would silently return garbage membership, violating the
    * no-false-negatives contract. */
  def requireTypeTag(expected: Long, actual: Long): Unit =
    if (expected != actual)
      throw BloomConfig.invalid(
        s"serialized filter holds ${TypeTag.name(actual)} elements, probed/loaded as ${TypeTag.name(expected)}")

  private def keyHash(k0: Long, k1: Long): Long =
    SipHash.hashLong(k0, k1, k0 ^ java.lang.Long.rotateLeft(k1, 32))

  def toBytes(words: Array[Long], cfg: BloomConfig, typeTag: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * words.length + 64).order(ByteOrder.BIG_ENDIAN)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.putLong(SerialVersion)
    bb.putLong(typeTag)
    bb.putLong(keyHash(cfg.k0, cfg.k1))
    bb.putLong(WordSizeBits)
    bb.putLong(cfg.k.toLong)
    bb.putLong(cfg.log2l.toLong)
    bb.putLong(0L) // reserved
    bb.putLong(0L) // pad to 64-byte tail like the reference's sIZEOF_METADATA
    bb.array()
  }

  /** Recover `log2l` from a serialized size; validates power-of-two
    * (reference `log2lFromArraySize`, `Internal.hs:207-217`). */
  def log2lFromByteLength(len: Int): Int = {
    val dataBytes = len - 64
    if (dataBytes < 8 || (dataBytes & (dataBytes - 1)) != 0)
      throw BloomConfig.invalid(s"serialized length $len is not 64 + a power-of-two data size")
    63 - java.lang.Long.numberOfLeadingZeros(dataBytes.toLong / 8).toInt
  }

  /** Parse + validate a serialized filter under the caller-supplied key
    * (validation checks mirror reference `Internal.hs:781-800`). Returns
    * `(config, words, typeTag)`.
    */
  def fromBytes(k0: Long, k1: Long, bytes: Array[Byte]): (BloomConfig, Array[Long], Long) = {
    val log2l = log2lFromByteLength(bytes.length)
    val l = 1 << log2l
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val words = new Array[Long](l)
    var i = 0
    while (i < l) { words(i) = bb.getLong(); i += 1 }
    val version = bb.getLong()
    val typeTag = bb.getLong()
    val storedKeyHash = bb.getLong()
    val wordSize = bb.getLong()
    val k = bb.getLong()
    val storedLog2l = bb.getLong()
    if (version != SerialVersion)
      throw BloomConfig.invalid(s"serialized version $version, expected $SerialVersion")
    if (wordSize != WordSizeBits)
      throw BloomConfig.invalid(s"serialized word size $wordSize, expected $WordSizeBits")
    if (storedLog2l != log2l.toLong)
      throw BloomConfig.invalid(s"metadata log2l $storedLog2l disagrees with data size ($log2l)")
    if (storedKeyHash != keyHash(k0, k1))
      throw BloomConfig.invalid("serialized filter was built with a different SipKey")
    if (k < 1L || k > 128L)
      throw BloomConfig.invalid(s"serialized k $k out of range")
    val cfg = BloomConfig(k0, k1, k.toInt, log2l)
    (cfg, words, typeTag)
  }
}

/** Analytic false-positive rate of the blocked ("bloom-1") filter —
  * the published error bound the tests gate on (reference `fpr`,
  * `Internal.hs:615-648`; the formula is from Qiao et al., *Fast Bloom
  * Filters and Their Generalization*).
  *
  * An element occupies exactly one w-bit word; with n elements over l words
  * the count X in a word is Binomial(n, 1/l) ≈ Poisson(n/l). Given i
  * elements in the queried word, a specific bit is set with probability
  * `1 - (1 - 1/w)^(i*k)`; a query probes k positions (with replacement), so
  *
  *   fpr = Σ_i  P[X = i] · (1 − (1 − 1/w)^(i·k))^k
  */
object Fpr {
  def bloom1(n: Long, l: Long, k: Int, w: Int = 64): Double = {
    require(n >= 0 && l >= 1 && k >= 1 && w >= 1)
    if (n == 0) return 0.0
    val lambda = n.toDouble / l.toDouble
    val logOneMinusInvW = math.log1p(-1.0 / w)
    var sum = 0.0
    // Poisson pmf iteratively in linear space with log-space start to
    // survive large lambda (the reference computes via Stirling for the
    // same reason, `Internal.hs:628-641`).
    var i = 0L
    var logP = -lambda // log pmf at i=0
    val cutoff = math.max(64L, (lambda + 12 * math.sqrt(lambda) + 16).toLong)
    while (i <= cutoff) {
      val p = math.exp(logP)
      val bitSet = -math.expm1(i * k * logOneMinusInvW) // 1-(1-1/w)^(ik)
      if (i > 0) sum += p * math.pow(bitSet, k)
      i += 1
      logP += math.log(lambda) - math.log(i.toDouble)
    }
    math.min(1.0, sum)
  }
}
