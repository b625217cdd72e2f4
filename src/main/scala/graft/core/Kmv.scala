package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** KMV (k-minimum-values / bottom-k) distinct sketch — Beyer, Haas,
  * Reinwald, Sismanis, Gemulla, "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations" (SIGMOD 2007).
  *
  * Completes the set-operation story the reference's Bloom filter starts:
  * `unionInto`/`intersectionInto` (reference `Internal.hs:488-550`) operate
  * on MEMBERSHIP; KMV gives the CARDINALITY analogues — distinct-count,
  * distinct-intersection and Jaccard estimates — which HLL cannot provide
  * (HLL registers carry no per-element evidence, so HLL intersection via
  * inclusion-exclusion explodes in relative error; the bottom-k sample is
  * the standard fix).
  *
  * State: the k smallest DISTINCT keyed-SipHash values of the inserted
  * elements, kept as an ascending unsigned-sorted `Array[Long]` prefix.
  * Once saturated, an insert is rejected by a single compare against the
  * current kth minimum, so only ~k·ln(n/k) of n inserts do any work —
  * the same "cheap after warm-up" profile as the Bloom word probe.
  *
  * The merge (union of the two hash sets, keep the k smallest) is
  * associative, commutative and idempotent — the same monoid shape as the
  * Bloom word-OR, so per-partition partials combine under Catalyst
  * partial/final aggregation identically.
  *
  * Estimator (unbiased, Beyer et al. §3): with U(k) the kth minimum mapped
  * to (0,1], D̂ = (k-1)/U(k); relative standard error ≈ 1/sqrt(k-2).
  * Below saturation the sketch holds EVERY distinct hash, so the count is
  * exact (modulo 64-bit hash collisions).
  */
object Kmv {
  import BottomK.{lt, search}

  /** Buffer of capacity k; `size` valid ascending-unsigned entries. */
  def emptyHashes(k: Int): Array[Long] = {
    require(k >= 4 && k <= (1 << 20), s"KMV k must be in [4, 2^20], got $k")
    new Array[Long](k)
  }

  /** Insert one hash; mutates `hashes`, returns the new size (the
    * [[BottomK.add]] core with no values). */
  def add(hashes: Array[Long], size: Int, h: Long): Int = BottomK.add[AnyRef](hashes, null, size, h, null)

  /** Union-merge: the smallest distinct hashes of (a ∪ b), capacity
    * `min(a.length, b.length)` (see [[BottomK.merge]]). Returns (hashes, size). */
  def merge(a: Array[Long], aSize: Int, b: Array[Long], bSize: Int): (Array[Long], Int) = {
    val (h, _, n) = BottomK.merge[AnyRef](a, null, aSize, b, null, bSize)
    (h, n)
  }

  /** Map a 64-bit hash to (0,1] using its top 53 bits (exact in a Double). */
  @inline def toUnit(h: Long): Double = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble

  /** Distinct-count estimate: exact below saturation, (k-1)/U(k) at it. */
  def estimate(hashes: Array[Long], size: Int): Double = {
    val k = hashes.length
    if (size < k) size.toDouble
    else (k - 1).toDouble / toUnit(hashes(k - 1))
  }

  /** Published relative standard error at saturation. */
  def stdError(k: Int): Double = 1.0 / math.sqrt((k - 2).toDouble)

  /** (jaccard, intersectionEstimate) for two same-capacity sketches.
    *
    * Beyer et al. §5: let K∪ be the bottom-k of the hash union and s=|K∪|;
    * ρ = |{h ∈ K∪ : h ∈ A ∧ h ∈ B}| / s estimates J(A,B), and
    * ρ · D̂(∪) estimates |A ∩ B|. When both inputs are below saturation
    * they are complete hash sets and both outputs are exact. */
  def jaccardAndIntersection(
      a: Array[Long], aSize: Int, b: Array[Long], bSize: Int): (Double, Double) = {
    val (u, uSize) = merge(a, aSize, b, bSize)
    if (uSize == 0) return (0.0, 0.0)
    var overlap = 0
    var i = 0
    while (i < uSize) {
      val h = u(i)
      if (search(a, aSize, h) >= 0 && search(b, bSize, h) >= 0) overlap += 1
      i += 1
    }
    val j = overlap.toDouble / uSize.toDouble
    (j, j * estimate(u, uSize))
  }

  /** Set-DIFFERENCE estimate |A \ B| — completes the multiset algebra of
    * Beyer et al. §5 next to union/intersection/Jaccard: over the bottom-k
    * union sample K∪, ρ_diff = |{h ∈ K∪ : h ∈ A ∧ h ∉ B}| / |K∪| estimates
    * |A \ B| / |A ∪ B|, so ρ_diff · D̂(∪) estimates |A \ B|. NOT symmetric
    * (difference isn't); both inputs below saturation ⇒ exact. */
  def difference(a: Array[Long], aSize: Int, b: Array[Long], bSize: Int): Double = {
    val (u, uSize) = merge(a, aSize, b, bSize)
    if (uSize == 0) return 0.0
    var only = 0
    var i = 0
    while (i < uSize) {
      val h = u(i)
      if (search(a, aSize, h) >= 0 && search(b, bSize, h) < 0) only += 1
      i += 1
    }
    (only.toDouble / uSize.toDouble) * estimate(u, uSize)
  }

  // --- serialization: [version, typeTag, keyHash, k, size] BE header + hashes ---
  final val SerialVersion = 1L

  def toBytes(hashes: Array[Long], size: Int, typeTag: Long, keyHash: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(40 + 8 * size).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(SerialVersion).putLong(typeTag).putLong(keyHash)
      .putLong(hashes.length.toLong).putLong(size.toLong)
    var i = 0
    while (i < size) { bb.putLong(hashes(i)); i += 1 }
    bb.array()
  }

  /** Returns (hashes[capacity k], size, typeTag, keyHash). Validates
    * version, declared-vs-actual length, size<=k, and strict ascending
    * unsigned order (the structural invariant every read path relies on —
    * the KMV analogue of the reference's six deserialize checks,
    * `Internal.hs:781-800`). */
  def fromBytes(bytes: Array[Byte]): (Array[Long], Int, Long, Long) = {
    require(bytes.length >= 40, s"KMV serialized size ${bytes.length} < header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    require(version == SerialVersion, s"KMV serialized version $version")
    val typeTag = bb.getLong()
    val keyHash = bb.getLong()
    // range-check BEFORE narrowing: a 64-bit header value like 2^32+256
    // must be rejected, not silently truncated to its low 32 bits
    val k64 = bb.getLong()
    val size64 = bb.getLong()
    require(k64 >= 4L && k64 <= (1L << 20), s"KMV serialized k=$k64 out of range")
    require(size64 >= 0L && size64 <= k64, s"KMV serialized size=$size64 for k=$k64")
    val k = k64.toInt
    val size = size64.toInt
    require(bytes.length == 40 + 8 * size,
      s"KMV serialized length ${bytes.length}, expected ${40 + 8 * size}")
    val hashes = new Array[Long](k)
    var i = 0
    while (i < size) {
      hashes(i) = bb.getLong()
      require(i == 0 || lt(hashes(i - 1), hashes(i)),
        s"KMV serialized hashes not strictly ascending at $i")
      i += 1
    }
    (hashes, size, typeTag, keyHash)
  }
}
