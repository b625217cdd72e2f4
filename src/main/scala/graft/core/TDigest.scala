package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests") over doubles, with the k1 scale function
  * k(q) = (delta / 2pi) * asin(2q - 1), which concentrates centroid
  * resolution at the tails.
  *
  * Mergeable: `merge` feeds the other digest's centroids through the same
  * greedy recombination pass. Merge is associative up to the algorithm's
  * published accuracy envelope (rank error O(1/delta) at the median,
  * shrinking toward the tails) — the property tests gate on the envelope,
  * mirroring how the reference gates Bloom FPR on its analytic bound
  * (reference `tests/Main.hs:537-584`).
  */
final class TDigest(val compression: Double) extends Serializable {
  require(compression >= 20 && compression <= 10000, s"t-digest compression $compression")

  private[core] var means: ArrayBuffer[Double] = ArrayBuffer.empty
  private[core] var weights: ArrayBuffer[Double] = ArrayBuffer.empty
  private[core] var bufMeans: ArrayBuffer[Double] = ArrayBuffer.empty
  private[core] var bufWeights: ArrayBuffer[Double] = ArrayBuffer.empty
  private[core] var total: Double = 0.0
  private[core] var minV: Double = Double.PositiveInfinity
  private[core] var maxV: Double = Double.NegativeInfinity
  private val bufLimit: Int = math.max(64, (5 * compression).toInt)

  def n: Double = total

  def add(x: Double, w: Double = 1.0): Unit = {
    bufMeans += x; bufWeights += w; total += w
    if (x < minV) minV = x
    if (x > maxV) maxV = x
    if (bufMeans.length >= bufLimit) flush()
  }

  private def kOf(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  private def qLimitFrom(k: Double): Double =
    (math.sin(math.min(k, compression / 4.0) * 2.0 * math.Pi / compression) + 1.0) / 2.0

  private[core] def flush(): Unit = {
    if (bufMeans.isEmpty) return
    val nAll = means.length + bufMeans.length
    val idx = Array.range(0, nAll)
    val m = new Array[Double](nAll)
    val w = new Array[Double](nAll)
    var i = 0
    while (i < means.length) { m(i) = means(i); w(i) = weights(i); i += 1 }
    var j = 0
    while (j < bufMeans.length) { m(i) = bufMeans(j); w(i) = bufWeights(j); i += 1; j += 1 }
    // stable sort by mean for determinism
    val order = idx.sortBy(m(_))
    val outM = ArrayBuffer.empty[Double]
    val outW = ArrayBuffer.empty[Double]
    var curM = m(order(0))
    var curW = w(order(0))
    var wSoFar = 0.0
    var p = 1
    while (p < nAll) {
      val q0 = wSoFar / total
      val limit = qLimitFrom(kOf(q0) + 1.0) * total
      val xm = m(order(p)); val xw = w(order(p))
      if (wSoFar + curW + xw <= limit) {
        curM += (xm - curM) * xw / (curW + xw)
        curW += xw
      } else {
        outM += curM; outW += curW
        wSoFar += curW
        curM = xm; curW = xw
      }
      p += 1
    }
    outM += curM; outW += curW
    means = outM; weights = outW
    bufMeans.clear(); bufWeights.clear()
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression, "t-digest merge: compression mismatch")
    other.flush()
    var i = 0
    while (i < other.means.length) {
      bufMeans += other.means(i); bufWeights += other.weights(i)
      i += 1
    }
    total += other.total
    if (other.minV < minV) minV = other.minV
    if (other.maxV > maxV) maxV = other.maxV
    flush()
    this
  }

  /** Quantile estimate with linear interpolation between centroid centers;
    * tracked min/max anchor the extreme quantiles (a centroid mean is an
    * average, so without them quantile(1.0) would under-report the max —
    * the tails are exactly where the k1 scale function promises accuracy). */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile q=$q")
    flush()
    if (means.isEmpty) return Double.NaN
    if (q == 0.0) return minV
    if (q == 1.0) return maxV
    if (means.length == 1) return means(0)
    val target = q * total
    var cum = 0.0
    var i = 0
    while (i < means.length) {
      val half = weights(i) / 2.0
      if (cum + half >= target || i == means.length - 1) {
        if (i == 0) {
          // below the first centroid's center: interpolate from the minimum
          val t = if (half == 0.0) 1.0 else math.min(1.0, math.max(0.0, target / half))
          return minV + (means(0) - minV) * t
        }
        if (i == means.length - 1 && cum + half < target) {
          // above the last centroid's center: interpolate toward the maximum
          val rest = total - (cum + half)
          val t = if (rest <= 0.0) 1.0 else math.min(1.0, (target - cum - half) / rest)
          return means(i) + (maxV - means(i)) * t
        }
        val prevHalf = weights(i - 1) / 2.0
        val prevCenter = cum - prevHalf
        val center = cum + half
        val t = if (center == prevCenter) 0.0 else (target - prevCenter) / (center - prevCenter)
        return means(i - 1) + (means(i) - means(i - 1)) * math.min(1.0, math.max(0.0, t))
      }
      cum += weights(i)
      i += 1
    }
    maxV
  }

  /** Estimated CDF at x (fraction of mass <= x), for rank-error checks. */
  def cdf(x: Double): Double = {
    flush()
    if (means.isEmpty) return Double.NaN
    var cum = 0.0
    var i = 0
    while (i < means.length && means(i) <= x) { cum += weights(i); i += 1 }
    // interpolate within the straddling centroid
    if (i < means.length && i > 0 && means(i) != means(i - 1)) {
      val t = (x - means(i - 1)) / (means(i) - means(i - 1))
      cum += weights(i) * math.min(1.0, math.max(0.0, t)) / 2.0
    }
    math.min(1.0, cum / total)
  }

  def centroidCount: Int = { flush(); means.length }

  def toBytes: Array[Byte] = {
    flush()
    val bb = ByteBuffer.allocate(8 * 6 + 16 * means.length).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(TDigest.SerialVersion)
    bb.putDouble(compression).putDouble(total)
    bb.putDouble(minV).putDouble(maxV)
    bb.putLong(means.length.toLong)
    var i = 0
    while (i < means.length) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  final val SerialVersion = 1L

  /** Validated decode: the centroid count must match the byte length. */
  def fromBytes(bytes: Array[Byte]): TDigest = {
    require(bytes.length >= 48, s"t-digest serialized size ${bytes.length} < 48-byte header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    require(version == SerialVersion, s"t-digest serialized version $version")
    val compression = bb.getDouble()
    val total = bb.getDouble()
    val minV = bb.getDouble()
    val maxV = bb.getDouble()
    val nC64 = bb.getLong()
    require(nC64 >= 0L && bytes.length == 48L + 16L * nC64,
      s"t-digest serialized size ${bytes.length} for $nC64 centroids")
    val nC = nC64.toInt
    val d = new TDigest(compression)
    d.minV = minV
    d.maxV = maxV
    var i = 0
    while (i < nC) {
      val m = bb.getDouble(); val w = bb.getDouble()
      d.means += m; d.weights += w
      i += 1
    }
    d.total = total
    d
  }
}
