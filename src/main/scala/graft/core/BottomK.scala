package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** The bottom-k core: one insert and one merge for every structure that
  * keeps the k smallest slot keys of its inputs — the [[Kmv]] distinct
  * sketch (keys only), the uniform value sample and the
  * Efraimidis–Spirakis weighted sample (keys with values) — plus the
  * samples' one codec.
  *
  * Bottom-k uniform VALUE sample — the mergeable distributed answer to
  * "give me k uniformly random distinct elements per group".
  *
  * The KMV sketch ([[Kmv]]) keeps the k smallest keyed-SipHash values of
  * the inserted elements; because the hash is a uniform random function of
  * the element, those k hashes identify a UNIFORM random sample of the
  * distinct elements (Beyer et al. 2007 §2 — the bottom-k sample is the
  * estimator's foundation). This sketch additionally RETAINS the element
  * alongside its hash, turning the cardinality sketch into a sampling
  * operator: per-partition partials keep k (hash, value) pairs, merge
  * keeps the k smallest of the union — associative, commutative,
  * idempotent, deterministic for a fixed SipHash key. Contrast with the
  * naive Spark formulation (`row_number() OVER (ORDER BY rand())` per
  * group): that shuffles EVERY row and is nondeterministic; this shuffles
  * one <= k-entry summary per (partition, group) and always returns the
  * same sample for the same input set — resumable-job friendly and
  * oracle-checkable.
  *
  * Distinct semantics: duplicate elements hash identically and are
  * dropped, so the sample is over the distinct-element set (sampling
  * WITHOUT replacement). Values are longs or UTF-8 strings ([[ValueType]];
  * element typeTag recorded, mirroring the Bloom/KMV type enforcement).
  */
object BottomK {

  /** Parallel buffers of capacity k: ascending-unsigned hashes + their
    * source values. `size` valid entries. */
  def emptyBuffers(k: Int): (Array[Long], Array[Long]) = {
    require(k >= 1 && k <= (1 << 20), s"BottomK k must be in [1, 2^20], got $k")
    (new Array[Long](k), new Array[Long](k))
  }

  @inline private[core] def lt(a: Long, b: Long): Boolean =
    java.lang.Long.compareUnsigned(a, b) < 0

  /** Unsigned binary search over the valid prefix. Returns the index of
    * `h` if present, else `-(insertionPoint) - 1` (à la java.util.Arrays). */
  private[core] def search(hashes: Array[Long], size: Int, h: Long): Int = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = hashes(mid)
      if (v == h) return mid
      if (lt(v, h)) lo = mid + 1 else hi = mid - 1
    }
    -(lo + 1)
  }

  /** Insert one slot key `h` with its value `v`; mutates both arrays,
    * returns the new size. `values` is null for a keys-only sketch (KMV).
    *
    * With no `cmp`, entry identity is the key: a duplicate key is dropped,
    * and a saturated sketch rejects a key >= its largest on one unsigned
    * compare, touching no values (only ~k·ln(n/k) of n inserts do work).
    *
    * With `cmp` (the weighted sample), identity is the (key, value) PAIR:
    * the ES key is the exponential's double bits, which CAN collide across
    * DISTINCT elements: u has only 53 bits, weights repeat (w = n_tok), and
    * the quotient rounds to 52 mantissa bits — at ~1e9 same-weight docs
    * per group the expected number of key collisions is double digits
    * (birthday over 2^53). Entries sort by (key asc-unsigned, value asc by
    * `cmp`) and only an exact pair is a duplicate — mirroring the gate's
    * `row_number() OVER (ORDER BY es_key, value)` recomputation, which
    * keeps both colliding docs. */
  def add[V](hashes: Array[Long], values: Array[V], size: Int, h: Long, v: V,
      cmp: (V, V) => Int = null): Int = {
    val k = hashes.length
    if (size == k) {
      val last = hashes(k - 1)
      if (!lt(h, last) && (cmp == null || last != h || cmp(values(k - 1), v) <= 0)) return size
    }
    var ins = search(hashes, size, h)
    if (ins >= 0) {
      if (cmp == null) return size // duplicate element (same hash): distinct semantics
      // resolve within the (tiny) equal-key run by value order
      while (ins > 0 && hashes(ins - 1) == h) ins -= 1
      while (ins < size && hashes(ins) == h && cmp(values(ins), v) < 0) ins += 1
      if (ins < size && hashes(ins) == h && cmp(values(ins), v) == 0)
        return size // exact (key, value) duplicate
    } else ins = -ins - 1
    val newSize = if (size < k) size + 1 else size
    val moved = newSize - 1 - ins
    if (moved > 0) {
      System.arraycopy(hashes, ins, hashes, ins + 1, moved)
      if (values != null) System.arraycopy(values, ins, values, ins + 1, moved)
    }
    hashes(ins) = h
    if (values != null) values(ins) = v
    newSize
  }

  /** Union-merge: the k smallest entries of (a ∪ b) under [[add]]'s
    * identity, capacity k = min(kA, kB) — a bottom-k' sample of the union
    * is a valid one for any k' <= min(kA, kB), so cross-capacity merges
    * fold down to the smaller k exactly like the reference's different-size
    * `unionInto` folds the larger filter (`Internal.hs:509-550`). On equal
    * keys side A goes first only when `cmp` orders its value first, so
    * without `cmp` the kept value is side B's. Returns (hashes, values,
    * size); values is null when both inputs' are. */
  def merge[V](aH: Array[Long], aV: Array[V], aSize: Int,
      bH: Array[Long], bV: Array[V], bSize: Int,
      cmp: (V, V) => Int = null): (Array[Long], Array[V], Int) = {
    val k = math.min(aH.length, bH.length)
    val outH = new Array[Long](k)
    val outV = if (aV == null) null
      else java.lang.reflect.Array.newInstance(aV.getClass.getComponentType, k).asInstanceOf[Array[V]]
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < aSize || j < bSize)) {
      val takeA = j >= bSize || (i < aSize && (lt(aH(i), bH(j)) ||
        (cmp != null && aH(i) == bH(j) && cmp(aV(i), bV(j)) < 0)))
      val h = if (takeA) aH(i) else bH(j)
      val vs = if (takeA) aV else bV
      val p = if (takeA) i else j
      if (takeA) i += 1 else j += 1
      if (n == 0 || outH(n - 1) != h || (cmp != null && cmp(outV(n - 1), vs(p)) != 0)) {
        outH(n) = h
        if (outV != null) outV(n) = vs(p)
        n += 1
      }
    }
    (outH, outV, n)
  }

  // ------------------------------------------- weighted (ES) sampling keys

  /** Efraimidis–Spirakis weighted-sampling key (ES 2006, "Weighted random
    * sampling with a reservoir"): for an item with weight w > 0 and a
    * uniform u in (0, 1], the k items with the LARGEST u^(1/w) — equivalently
    * the k SMALLEST exponentials -ln(u)/w — form a weighted sample without
    * replacement (k = 1 inclusion probability is exactly w_i / sum(w)).
    * u derives deterministically from the item's SipHash (top 53 bits,
    * shifted into (0, 1]), so the weighted sample inherits every property
    * of the uniform one: deterministic for a fixed key, order-insensitive,
    * mergeable by keeping the k smallest keys of a union.
    *
    * The exponential is non-negative, and for non-negative IEEE-754
    * doubles the raw long bits order EXACTLY like the values — so the key
    * drops into the unsigned-ascending bottom-k machinery unchanged.
    * (-ln maps u = 1 to bits 0; underflow-to-+Inf on subnormal weights
    * still orders last.) Weight must be > 0; callers skip w <= 0 rows
    * (zero sampling mass).
    *
    * StrictMath.log, NOT math.log: Spark SQL's `log()` expression emits
    * `java.lang.StrictMath.log` in both eval and codegen, while the
    * `Math.log` HotSpot intrinsic differs from it by 1 ulp on ~7% of
    * inputs on x86_64 — the driver gate rebuilds this key from first
    * principles in SQL and compares sample sets for EQUALITY, so the two
    * log implementations must be the same function bit-for-bit. */
  def esKey(hash: Long, weight: Double): Long = {
    require(weight > 0.0, s"BottomK.esKey: weight must be > 0, got $weight")
    val u = ((hash >>> 11) + 1).toDouble / 9007199254740992.0 // 2^53, u in (0, 1]
    java.lang.Double.doubleToLongBits(-StrictMath.log(u) / weight)
  }

  /** Value tie-break for LONG samples: signed ascending, matching the SQL
    * gate's `ORDER BY es_key, doc_id`. */
  @inline def cmpLong(a: Long, b: Long): Int = java.lang.Long.compare(a, b)

  /** Value tie-break for STRING samples: unsigned lexicographic over the
    * UTF-8 bytes — Spark's UTF8_BINARY string ordering (NOT Java
    * String.compareTo, whose UTF-16 code-unit order disagrees above the
    * BMP). */
  def cmpUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }

  // --- serialization: [version, typeTag, keyHash, k, size] BE header +
  //     hashes[size] + values. Version 1 = uniform sample (slot 1 holds the
  //     element's SipHash); version 2 = ES-WEIGHTED sample (slot 1 holds
  //     the exponential key's double bits) — same byte layout, but the two
  //     must never merge, so the decoder REFUSES the other version. The
  //     value layout is the sample's [[ValueType]]: LONG values are fixed
  //     8-byte, STRING values are (int length, UTF-8 bytes); the typeTag
  //     tells them apart, and a decoder REFUSES the other layout's tag — a
  //     string payload must not be misparsed as longs. ---
  final val SerialVersion = 1L
  final val SerialVersionWeighted = 2L

  /** A sample's value type: its weighted tie-break order `cmp` and its
    * payload layout. */
  sealed abstract class ValueType[V](val cmp: (V, V) => Int) extends Serializable {
    def newArray(k: Int): Array[V]
    private[core] def width(v: V): Int
    private[core] def put(bb: ByteBuffer, v: V): Unit
    /** Refuses the other layout's typeTag and a payload length this layout
      * cannot hold `size` entries in. */
    private[core] def check(bytes: Array[Byte], typeTag: Long, size: Int): Unit
    private[core] def get(bb: ByteBuffer, i: Int): V
  }

  case object LongValues extends ValueType[Long](cmpLong) {
    def newArray(k: Int): Array[Long] = new Array[Long](k)
    private[core] def width(v: Long): Int = 8
    private[core] def put(bb: ByteBuffer, v: Long): Unit = bb.putLong(v)
    private[core] def check(bytes: Array[Byte], typeTag: Long, size: Int): Unit = {
      require(typeTag != BlockedBloom.TypeTag.String,
        "BottomK: string-valued sample payload decoded with the long-layout reader")
      require(bytes.length == 40 + 16 * size,
        s"BottomK serialized length ${bytes.length}, expected ${40 + 16 * size}")
    }
    private[core] def get(bb: ByteBuffer, i: Int): Long = bb.getLong()
  }

  case object StringValues extends ValueType[Array[Byte]](cmpUtf8) {
    def newArray(k: Int): Array[Array[Byte]] = new Array[Array[Byte]](k)
    private[core] def width(v: Array[Byte]): Int = 4 + v.length
    private[core] def put(bb: ByteBuffer, v: Array[Byte]): Unit = bb.putInt(v.length).put(v)
    private[core] def check(bytes: Array[Byte], typeTag: Long, size: Int): Unit = {
      require(typeTag == BlockedBloom.TypeTag.String,
        s"BottomK: tag ${BlockedBloom.TypeTag.name(typeTag)} payload decoded with the string-layout reader")
      // each value carries at least its 4-byte length prefix; checking 12*size
      // up front (and remaining() per prefix below) turns every truncation
      // into a require failure, never a raw BufferUnderflowException
      require(bytes.length >= 40 + 12 * size,
        s"BottomK serialized length ${bytes.length} too short for $size string entries")
    }
    private[core] def get(bb: ByteBuffer, i: Int): Array[Byte] = {
      require(bb.remaining() >= 4, s"BottomK serialized payload truncated at entry $i")
      val len = bb.getInt()
      require(len >= 0 && len <= bb.remaining(),
        s"BottomK serialized string length $len exceeds remaining payload")
      val v = new Array[Byte](len)
      bb.get(v)
      v
    }
  }

  private def versionName(v: Long): String =
    if (v == SerialVersionWeighted) "weighted" else "uniform"

  /** The `version` payload of `size` entries in the `vt` layout. */
  def toBytes[V](hashes: Array[Long], values: Array[V], size: Int, typeTag: Long, keyHash: Long,
      version: Long, vt: ValueType[V]): Array[Byte] = {
    var payload = 0
    var i = 0
    while (i < size) { payload += vt.width(values(i)); i += 1 }
    val bb = ByteBuffer.allocate(40 + 8 * size + payload).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(version).putLong(typeTag).putLong(keyHash)
      .putLong(hashes.length.toLong).putLong(size.toLong)
    i = 0
    while (i < size) { bb.putLong(hashes(i)); i += 1 }
    i = 0
    while (i < size) { vt.put(bb, values(i)); i += 1 }
    bb.array()
  }

  /** Returns (hashes[k], values[k], size, typeTag, keyHash) of a `version`
    * payload in the `vt` layout. Validates the version, ranges BEFORE
    * narrowing, the layout's tag and declared-vs-actual length, and the
    * key order: uniform (version-1) payloads hold element hashes, which
    * [[add]]/[[merge]] dedup by hash identity, so they are strictly
    * ascending; ES-WEIGHTED (version-2) keys legitimately COLLIDE across
    * distinct elements (pair identity, see [[add]]), so they are only
    * non-decreasing, with the (key, value) pairs strictly ascending. */
  def fromBytes[V](bytes: Array[Byte], version: Long,
      vt: ValueType[V]): (Array[Long], Array[V], Int, Long, Long) = {
    require(bytes.length >= 40, s"BottomK serialized size ${bytes.length} < header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val got = bb.getLong()
    require(got == version,
      s"BottomK serialized version $got (${versionName(got)}): " +
        s"expected ${versionName(version)} sample — uniform and ES-weighted " +
        "samples must not mix")
    val typeTag = bb.getLong()
    val keyHash = bb.getLong()
    val k64 = bb.getLong()
    val size64 = bb.getLong()
    require(k64 >= 1L && k64 <= (1L << 20), s"BottomK serialized k=$k64 out of range")
    require(size64 >= 0L && size64 <= k64, s"BottomK serialized size=$size64 for k=$k64")
    val (k, size) = (k64.toInt, size64.toInt)
    vt.check(bytes, typeTag, size)
    val strict = version == SerialVersion
    val hashes = new Array[Long](k)
    var i = 0
    while (i < size) {
      hashes(i) = bb.getLong()
      require(i == 0 || lt(hashes(i - 1), hashes(i)) ||
          (!strict && hashes(i - 1) == hashes(i)),
        if (strict) s"BottomK serialized hashes not strictly ascending at $i"
        else s"BottomK serialized weighted keys not non-decreasing at $i")
      i += 1
    }
    val values = vt.newArray(k)
    i = 0
    while (i < size) { values(i) = vt.get(bb, i); i += 1 }
    require(bb.remaining() == 0, s"BottomK serialized trailing ${bb.remaining()} bytes")
    i = 1
    while (!strict && i < size) {
      require(hashes(i - 1) != hashes(i) || vt.cmp(values(i - 1), values(i)) < 0,
        s"BottomK serialized weighted (key, value) pairs not strictly ascending at $i")
      i += 1
    }
    (hashes, values, size, typeTag, keyHash)
  }
}
