package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Dense HyperLogLog (Flajolet–Furet–Gandouet–Meunier 2007) with the
  * standard small-range linear-counting correction.
  *
  * Part of the mergeable sketch family the reference's Bloom filter
  * generalizes into (BASELINE.json north_rule): same monoid shape —
  * `add` is the per-row reduce, `merge` is an elementwise register max
  * (associative, commutative, idempotent), so per-partition partials
  * combine under Catalyst partial/final aggregation exactly like the
  * Bloom word-OR (reference union, `Internal.hs:488-491`).
  *
  * Registers are a bare `Array[Byte]` of `2^p` entries so the Spark
  * aggregation buffer is a native binary array. Hash = keyed SipHash-2-4
  * (see [[SipHash]]) for cross-executor determinism.
  *
  * Standard error: sigma = 1.04 / sqrt(2^p).
  */
object Hll {

  def numRegisters(p: Int): Int = {
    require(p >= 4 && p <= 18, s"HLL precision p must be in [4,18], got $p")
    1 << p
  }

  def empty(p: Int): Array[Byte] = new Array[Byte](numRegisters(p))

  /** Update registers with a 64-bit hash of one element. Top p bits pick the
    * register; rho = 1 + leading zeros of the remaining 64-p bits. */
  @inline def addHash(regs: Array[Byte], p: Int, h: Long): Unit = {
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    val rho = (if (w == 0L) (64 - p) + 1 else java.lang.Long.numberOfLeadingZeros(w) + 1).toByte
    if (rho > regs(idx)) regs(idx) = rho
  }

  /** Elementwise max merge — the HLL monoid. */
  def merge(dst: Array[Byte], src: Array[Byte]): Array[Byte] = {
    require(dst.length == src.length, s"HLL merge: ${dst.length} vs ${src.length} registers")
    var i = 0
    while (i < dst.length) { if (src(i) > dst(i)) dst(i) = src(i); i += 1 }
    dst
  }

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Cardinality estimate with linear-counting small-range correction. */
  def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i) & 0xff
      invSum += java.lang.Double.longBitsToDouble((1023L - r) << 52) // 2^-r exactly
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alpha(m) * m.toDouble * m.toDouble / invSum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else e
  }

  /** Published relative standard error for precision p. */
  def stdError(p: Int): Double = 1.04 / math.sqrt((1 << p).toDouble)

  // --- serialization ---------------------------------------------------
  // Two layouts behind ONE encode/decode choke point, chosen by register
  // density (the HLL++ idea, Heule–Nunkesser–Hall 2013, applied to the
  // serialized form):
  //   v1 DENSE:  [version=1, typeTag, keyHash, p] BE header + 2^p registers
  //   v2 SPARSE: [version=2, typeTag, keyHash, p:int|count:int] BE header
  //              + count * (idx:int, rho:byte), idx strictly increasing
  // Sparse is emitted iff 5*count < 2^p (strictly smaller payload), so a
  // per-(group, day) sketch of a few hundred distincts costs ~5 bytes per
  // touched register instead of the full 2^p — the difference between a
  // rollup table over millions of small groups fitting in cache and not.
  // The choice is a PURE function of register state, so merge-order
  // byte-identity gates (q_sketch_rollup) hold unchanged.
  final val SerialVersion = 1L
  final val SerialVersionSparse = 2L

  /** Number of nonzero registers (the sparse entry count). */
  def nonzeroCount(regs: Array[Byte]): Int = {
    var c = 0
    var i = 0
    while (i < regs.length) { if (regs(i) != 0) c += 1; i += 1 }
    c
  }

  def toBytes(regs: Array[Byte], p: Int, typeTag: Long, keyHash: Long): Array[Byte] = {
    require(regs.length == numRegisters(p), s"HLL toBytes: ${regs.length} registers for p=$p")
    val c = nonzeroCount(regs)
    if (5L * c < regs.length) {
      val bb = ByteBuffer.allocate(32 + 5 * c).order(ByteOrder.BIG_ENDIAN)
      bb.putLong(SerialVersionSparse).putLong(typeTag).putLong(keyHash)
      bb.putInt(p).putInt(c)
      var i = 0
      while (i < regs.length) {
        if (regs(i) != 0) { bb.putInt(i); bb.put(regs(i)) }
        i += 1
      }
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(32 + regs.length).order(ByteOrder.BIG_ENDIAN)
      bb.putLong(SerialVersion).putLong(typeTag).putLong(keyHash).putLong(p.toLong)
      bb.put(regs)
      bb.array()
    }
  }

  /** Returns (p, registers, typeTag, keyHash). Validates version and size;
    * callers merging sketches must also require equal keyHash — registers
    * populated under different SipHash keys max-merge into garbage. */
  def fromBytesFull(bytes: Array[Byte]): (Int, Array[Byte], Long, Long) = {
    require(bytes.length >= 32, s"HLL serialized size ${bytes.length} < 32-byte header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    val typeTag = bb.getLong()
    val keyHash = bb.getLong()
    version match {
      case SerialVersion =>
        val p64 = bb.getLong()
        require(p64 >= 4L && p64 <= 18L, s"HLL serialized precision $p64 out of [4,18]")
        val p = p64.toInt
        require(bytes.length == 32 + numRegisters(p),
          s"HLL serialized size ${bytes.length} for p=$p")
        val regs = new Array[Byte](1 << p)
        bb.get(regs)
        (p, regs, typeTag, keyHash)
      case SerialVersionSparse =>
        val p = bb.getInt()
        val c = bb.getInt()
        val m = numRegisters(p)
        require(c >= 0 && 5L * c < m, s"HLL sparse count $c out of range for p=$p")
        require(bytes.length == 32 + 5 * c,
          s"HLL sparse serialized size ${bytes.length} for count=$c")
        val regs = new Array[Byte](m)
        var prev = -1
        var i = 0
        while (i < c) {
          val idx = bb.getInt()
          val rho = bb.get()
          require(idx > prev && idx < m, s"HLL sparse index $idx (prev $prev, m=$m)")
          require(rho >= 1 && rho <= 64 - p + 1, s"HLL sparse rho $rho at index $idx for p=$p")
          regs(idx) = rho
          prev = idx
          i += 1
        }
        (p, regs, typeTag, keyHash)
      case v => throw new IllegalArgumentException(s"HLL serialized version $v")
    }
  }

  /** Returns (p, registers, typeTag) — estimate-only callers. */
  def fromBytes(bytes: Array[Byte]): (Int, Array[Byte], Long) = {
    val (p, regs, tag, _) = fromBytesFull(bytes)
    (p, regs, tag)
  }
}
