package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch over doubles (Karnin–Lang–Liberty, FOCS 2016; see
  * also KLL± VLDB 2021 in PAPERS.md). Mergeable: per-partition sketches
  * combine by concatenating compactor levels then re-compacting — an
  * associative/commutative merge matching the aggregation monoid shape of
  * the rest of the family.
  *
  * Level h holds items of weight 2^h. Level capacities decay geometrically
  * (c = 2/3) from `k` at the top; a full level sorts itself and promotes
  * every other item (deterministic alternation seeded from `k` so runs are
  * reproducible) to level h+1.
  *
  * Published accuracy (Apache DataSketches' empirically-fit constant for
  * the same construction): normalized rank error ≈ 2.446 / k^0.9433 at
  * ~99% confidence. [[Kll.normalizedRankError]].
  */
final class KllSketch(val k: Int) extends Serializable {
  require(k >= 8 && k <= 65535, s"KLL k must be in [8, 65535], got $k")

  private[core] var levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
  private[core] var count: Long = 0L
  // deterministic compaction-offset generator (xorshift64*)
  private[core] var rng: Long = 0x9e3779b97f4a7c15L ^ k.toLong

  private def nextBit(): Int = {
    var x = rng
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    rng = x
    (((x * 0x2545f4914f6cdd1dL) >>> 63) & 1L).toInt
  }

  /** Capacity of level h given current height. */
  private def capacity(h: Int): Int = {
    val depth = levels.length - 1 - h // 0 for the top level
    math.max(math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt, 8)
  }

  def n: Long = count

  def add(x: Double): Unit = {
    levels(0) += x
    count += 1L
    compressIfNeeded()
  }

  private def totalItems: Int = { var s = 0; var i = 0; while (i < levels.length) { s += levels(i).length; i += 1 }; s }
  private def totalCapacity: Int = { var s = 0; var h = 0; while (h < levels.length) { s += capacity(h); h += 1 }; s }

  private def compressIfNeeded(): Unit = {
    // totalItems > totalCapacity implies some level exceeds its capacity,
    // so the first-over-capacity scan always finds a target
    while (totalItems > totalCapacity) {
      var h = 0
      while (h < levels.length - 1 && levels(h).length <= capacity(h)) h += 1
      compactLevel(h)
    }
  }

  private def compactLevel(h: Int): Unit = {
    val lvl = levels(h)
    if (lvl.length < 2) return
    val sorted = lvl.toArray
    java.util.Arrays.sort(sorted)
    // compact an even count; an odd straggler stays at this level so total
    // weight is preserved exactly: (m/2)*2^(h+1) + straggler*2^h = n*2^h
    val m = sorted.length - (sorted.length % 2)
    val off = nextBit()
    if (levels.length == h + 1) levels += ArrayBuffer.empty[Double]
    val up = levels(h + 1)
    var i = off
    while (i < m) { up += sorted(i); i += 2 }
    lvl.clear()
    if (sorted.length % 2 == 1) lvl += sorted(sorted.length - 1)
  }

  /** Merge `other` into this (levelwise concat + recompact). */
  def merge(other: KllSketch): KllSketch = {
    require(other.k == k, s"KLL merge: k mismatch $k vs ${other.k}")
    while (levels.length < other.levels.length) levels += ArrayBuffer.empty[Double]
    var h = 0
    while (h < other.levels.length) { levels(h) ++= other.levels(h); h += 1 }
    count += other.count
    rng ^= java.lang.Long.rotateLeft(other.rng, 17)
    compressIfNeeded()
    this
  }

  /** Weighted rank of x: estimated count of items <= x. */
  def rank(x: Double): Long = {
    var r = 0L
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      val lvl = levels(h)
      var i = 0
      while (i < lvl.length) { if (lvl(i) <= x) r += w; i += 1 }
      h += 1
    }
    r
  }

  /** Quantile estimate for q in [0,1]; sorts the retained items, so a
    * caller with many queries builds one [[KllSortedView]] instead. */
  def quantile(q: Double): Double = new KllSortedView(this).quantile(q)

  def toBytes: Array[Byte] = {
    val numItems = totalItems
    val bb = ByteBuffer.allocate(8 * 5 + 4 * levels.length + 8 * numItems).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(Kll.SerialVersion).putLong(k.toLong).putLong(count).putLong(levels.length.toLong)
    bb.putLong(rng) // compaction-offset state survives ser/de (resume/merge)
    levels.foreach(l => bb.putInt(l.length))
    levels.foreach(_.foreach(bb.putDouble))
    bb.array()
  }
}

/** A KLL sketch's retained items sorted by value, with cumulative weights:
  * built once in O(m log m) for m items, then each quantile is a binary
  * search. */
final class KllSortedView(sketch: KllSketch) {
  private val count = sketch.count
  private val (values, cumWeights) = {
    val items = ArrayBuffer.empty[(Double, Long)]
    var h = 0
    while (h < sketch.levels.length) {
      val w = 1L << h
      sketch.levels(h).foreach(v => items += ((v, w)))
      h += 1
    }
    val sorted = items.sortBy(_._1)
    (sorted.map(_._1).toArray, sorted.scanLeft(0L)(_ + _._2).tail.toArray)
  }

  /** The smallest item whose cumulative weight reaches ceil(q * n) (at
    * least 1); the largest item if none does. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile q=$q")
    if (count == 0L) return Double.NaN
    require(values.nonEmpty, s"KLL sketch of n=$count retains no items")
    val target = math.max(1L, math.ceil(q * count).toLong)
    var lo = 0
    var hi = values.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cumWeights(mid) >= target) hi = mid else lo = mid + 1
    }
    values(lo)
  }
}

object Kll {
  final val SerialVersion = 1L

  /** Validated decode: every header field is range-checked against the
    * byte length before anything is allocated or read. */
  def fromBytes(bytes: Array[Byte]): KllSketch = {
    require(bytes.length >= 40, s"KLL serialized size ${bytes.length} < 40-byte header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    require(version == SerialVersion, s"KLL serialized version $version")
    val k64 = bb.getLong()
    require(k64 >= 8L && k64 <= 65535L, s"KLL serialized k=$k64 out of [8, 65535]")
    val count = bb.getLong()
    val nLevels64 = bb.getLong()
    val rng = bb.getLong()
    // each level costs at least its 4-byte size field
    require(nLevels64 >= 1L && nLevels64 <= (bytes.length - 40L) / 4,
      s"KLL serialized level count $nLevels64 for ${bytes.length} bytes")
    val nLevels = nLevels64.toInt
    val sizes = Array.fill(nLevels)(bb.getInt())
    var items = 0L
    var h = 0
    while (h < nLevels) {
      require(sizes(h) >= 0, s"KLL serialized level $h size ${sizes(h)}")
      items += sizes(h)
      h += 1
    }
    require(bytes.length == 40L + 4L * nLevels + 8L * items,
      s"KLL serialized size ${bytes.length} for $nLevels levels of $items items")
    require(count >= 0L, s"KLL serialized count $count")
    val s = new KllSketch(k64.toInt)
    s.rng = rng
    s.levels = ArrayBuffer.fill(nLevels)(ArrayBuffer.empty[Double])
    h = 0
    while (h < nLevels) {
      var i = 0
      while (i < sizes(h)) { s.levels(h) += bb.getDouble(); i += 1 }
      h += 1
    }
    s.count = count
    s
  }

  /** Published (DataSketches-fit) normalized rank error at ~99% confidence. */
  def normalizedRankError(k: Int): Double = 2.446 / math.pow(k.toDouble, 0.9433)
}
