package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Count-min sketch (Cormode–Muthukrishnan 2005) for point frequency
  * estimates and heavy hitters.
  *
  * `depth` rows × `width` (power of two) counters. Row hash functions are
  * derived from ONE 128-bit SipHash evaluation per element via the
  * Kirsch–Mitzenmacher construction `g_j(x) = h1(x) + j·h2(x)`, so inserts
  * cost a single hash regardless of depth. (Unlike MinHash signature
  * components — see `MinHash.gi`'s envelope-of-lines note — raw KM is
  * sound here: the one-sided `estimate >= true` guarantee is unconditional,
  * and the εN tail needs only per-row bucket uniformity; the query surface
  * additionally asserts its bounds with a doubled ε.)
  *
  * Monoid: `add` = increment one counter per row; `merge` = elementwise sum
  * (associative, commutative). Guarantees (width w, depth d, total count N):
  * estimate ≥ true count (one-sided), and estimate ≤ true + εN with
  * probability ≥ 1−δ where ε = e/w and δ = e^−d.
  *
  * Buffer layout: `Array[Long]` of `depth*width + 1`; the final slot is the
  * total insert weight N (needed for the εN bound and heavy-hitter
  * thresholds), which merges by addition like everything else.
  */
final case class CmsConfig(k0: Long, k1: Long, depth: Int, log2Width: Int) {
  require(depth >= 1 && depth <= 12, s"CMS depth must be in [1,12], got $depth")
  require(log2Width >= 2 && log2Width <= 26, s"CMS log2Width must be in [2,26], got $log2Width")
  require(depth.toLong * (1L << log2Width) + 1L <= ((Int.MaxValue - 48) / 8).toLong,
    s"CMS depth*width too large to serialize (depth=$depth, log2Width=$log2Width)")
  val width: Int = 1 << log2Width
  val widthMask: Long = (width - 1).toLong
  def epsilon: Double = math.E / width
  def delta: Double = math.exp(-depth.toDouble)
  def bufferLen: Int = depth * width + 1
}

object CountMin {

  def empty(cfg: CmsConfig): Array[Long] = new Array[Long](cfg.bufferLen)

  /** Add one occurrence of an element given its 128-bit hash halves. */
  @inline def addHash(buf: Array[Long], cfg: CmsConfig, h1: Long, h2: Long, count: Long = 1L): Unit = {
    var j = 0
    while (j < cfg.depth) {
      val idx = ((h1 + j * h2) & cfg.widthMask).toInt
      buf(j * cfg.width + idx) += count
      j += 1
    }
    buf(cfg.depth * cfg.width) += count
  }

  @inline def estimateHash(buf: Array[Long], cfg: CmsConfig, h1: Long, h2: Long): Long = {
    var min = Long.MaxValue
    var j = 0
    while (j < cfg.depth) {
      val idx = ((h1 + j * h2) & cfg.widthMask).toInt
      val c = buf(j * cfg.width + idx)
      if (c < min) min = c
      j += 1
    }
    min
  }

  def addInt(buf: Array[Long], cfg: CmsConfig, x: Int, count: Long = 1L): Unit = {
    val h = new Array[Long](2)
    SipHash.hash128IntInto(cfg.k0, cfg.k1, x, h)
    addHash(buf, cfg, h(1), h(0) | 1L, count) // h2 forced odd: full-period stride
  }

  def estimateInt(buf: Array[Long], cfg: CmsConfig, x: Int): Long = {
    val h = new Array[Long](2)
    SipHash.hash128IntInto(cfg.k0, cfg.k1, x, h)
    estimateHash(buf, cfg, h(1), h(0) | 1L)
  }

  /** Strings hash as their UTF-8 bytes. */
  def addString(buf: Array[Long], cfg: CmsConfig, s: String, count: Long = 1L): Unit = {
    val utf8 = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = new Array[Long](2)
    SipHash.hash128Into(cfg.k0, cfg.k1, utf8, utf8.length, h)
    addHash(buf, cfg, h(1), h(0) | 1L, count)
  }

  def estimateString(buf: Array[Long], cfg: CmsConfig, s: String): Long =
    estimateBytes(buf, cfg, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[estimateString]] over raw UTF-8 bytes — lets codegen callers probe a
    * `UTF8String` without materializing a `java.lang.String`. */
  def estimateBytes(buf: Array[Long], cfg: CmsConfig, utf8: Array[Byte]): Long = {
    val h = new Array[Long](2)
    SipHash.hash128Into(cfg.k0, cfg.k1, utf8, utf8.length, h)
    estimateHash(buf, cfg, h(1), h(0) | 1L)
  }

  /** Total inserted weight N. */
  def totalCount(buf: Array[Long], cfg: CmsConfig): Long = buf(cfg.depth * cfg.width)

  /** Elementwise sum — the CMS monoid. */
  def merge(dst: Array[Long], src: Array[Long]): Array[Long] = {
    require(dst.length == src.length, s"CMS merge: ${dst.length} vs ${src.length}")
    var i = 0
    while (i < dst.length) { dst(i) += src(i); i += 1 }
    dst
  }

  // --- serialization: [version, typeTag, keyHash, depth, log2Width] + counters ---
  final val SerialVersion = 1L

  def toBytes(buf: Array[Long], cfg: CmsConfig, typeTag: Long): Array[Byte] =
    toBytesWithKeyHash(buf, cfg.depth, cfg.log2Width, typeTag,
      SipHash.hashLong(cfg.k0, cfg.k1, cfg.k0 ^ cfg.k1))

  /** Serializer that preserves an existing keyHash (merge paths must stamp
    * the INPUT sketches' key hash, not whatever config the merger holds). */
  def toBytesWithKeyHash(buf: Array[Long], depth: Int, log2Width: Int,
      typeTag: Long, keyHash: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(40 + 8 * buf.length).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(SerialVersion).putLong(typeTag)
    bb.putLong(keyHash)
    bb.putLong(depth.toLong).putLong(log2Width.toLong)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  /** Returns (depth, log2Width, counters, typeTag, keyHash). Validates the
    * header ranges (a corrupted depth/log2Width must fail loudly, not
    * overflow); callers merging sketches must require equal keyHash. */
  def fromBytesFull(bytes: Array[Byte]): (Int, Int, Array[Long], Long, Long) = {
    require(bytes.length >= 40, s"CMS serialized size ${bytes.length} < 40-byte header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    require(version == SerialVersion, s"CMS serialized version $version")
    val typeTag = bb.getLong()
    val keyHash = bb.getLong()
    // range-check BEFORE narrowing (2^32 + 5 must not read as depth 5)
    val depth64 = bb.getLong()
    val log2Width64 = bb.getLong()
    require(depth64 >= 1 && depth64 <= 12, s"CMS serialized depth $depth64 out of [1,12]")
    require(log2Width64 >= 2 && log2Width64 <= 26, s"CMS serialized log2Width $log2Width64 out of [2,26]")
    val depth = depth64.toInt
    val log2Width = log2Width64.toInt
    val n = depth * (1 << log2Width) + 1
    require(bytes.length == 40L + 8L * n, s"CMS serialized size ${bytes.length}")
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = bb.getLong(); i += 1 }
    (depth, log2Width, buf, typeTag, keyHash)
  }

  /** Returns (depth, log2Width, counters, typeTag). */
  def fromBytes(bytes: Array[Byte]): (Int, Int, Array[Long], Long) = {
    val (d, w, buf, tag, _) = fromBytesFull(bytes)
    (d, w, buf, tag)
  }
}
