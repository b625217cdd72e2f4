package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Misra-Gries / space-saving style frequent-items ("heavy hitter")
  * summary over long keys — the top-k operator for vocab ≫ sketch width,
  * where the CMS + exact-candidate-enumeration pattern stops working
  * (round-2 VERDICT #6).
  *
  * Same monoid shape as the rest of the sketch family (BASELINE.json
  * north_rule): per-partition partial summaries merge associatively under
  * Catalyst partial/final aggregation (mergeability per Agarwal et al.,
  * "Mergeable Summaries", PODS 2012 §3).
  *
  * State: at most `capacity` (key -> count) counters, a cumulative
  * decrement `decremented` (D), and the total inserted weight `total` (N).
  * Exact, oracle-checkable invariants (all asserted by the driver query):
  *  - `est(x) <= true(x)` for stored x, and `true(x) - est(x) <= D`;
  *  - an absent x has `true(x) <= D` — any key with true count > D is
  *    guaranteed present;
  *  - `D <= N / capacity`.
  *
  * `add` on a full summary with a new key subtracts the current minimum
  * count from every counter (batch Misra-Gries decrement: at least one
  * counter zeroes, freeing a slot), adds it to D, and inserts the new key.
  * `merge` sums counters of the key union and D/N, then prunes to capacity
  * by subtracting the (capacity+1)-th largest count (the mergeable-MG
  * reduction), adding it to D.
  */
object FrequentItems {

  final val SerialVersion = 1L

  /** Backing store is a plain java.util.HashMap: Spark ships Aggregator
    * buffers through Kryo, whose field-level reconstruction of Scala's
    * open-addressing LongMap is unsound (observed SIGSEGV in
    * LongMap.foreach after a shuffle roundtrip); the JDK map has a
    * dedicated, safe Kryo serializer. Capacity is <= a few hundred, so
    * boxing is immaterial. */
  final class Summary(val capacity: Int) extends Serializable {
    require(capacity >= 1, s"FrequentItems capacity must be >= 1, got $capacity")
    val counts: java.util.HashMap[java.lang.Long, java.lang.Long] =
      new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var decremented: Long = 0L
    var total: Long = 0L

    def size: Int = counts.size()
    def contains(x: Long): Boolean = counts.containsKey(x)

    /** Snapshot of the entries as Scala pairs. */
    def entries: Seq[(Long, Long)] = {
      val b = Seq.newBuilder[(Long, Long)]
      val it = counts.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b += ((e.getKey.longValue(), e.getValue.longValue())) }
      b.result()
    }

    def add(x: Long, w: Long = 1L): Unit = {
      require(w >= 0, s"negative weight $w")
      if (w == 0) return
      total += w
      val cur = counts.get(x)
      if (cur != null) counts.put(x, cur + w)
      else if (counts.size < capacity) counts.put(x, w)
      else {
        // batch decrement by the minimum count: >= 1 slot frees, D grows by
        // min, every surviving counter's deficit grows by exactly min
        var min = Long.MaxValue
        val vit = counts.values().iterator()
        while (vit.hasNext) { val c = vit.next().longValue(); if (c < min) min = c }
        subtractAll(min)
        decremented += min
        counts.put(x, w)
      }
    }

    private def subtractAll(delta: Long): Unit = {
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue() - delta
        if (c <= 0) it.remove() else e.setValue(c)
      }
    }

    /** Merge `other` into this (mutates and returns this). */
    def mergeInPlace(other: Summary): Summary = {
      require(capacity == other.capacity,
        s"FrequentItems merge: capacity $capacity vs ${other.capacity}")
      other.entries.foreach { case (k, c) =>
        val cur = counts.get(k)
        counts.put(k, if (cur != null) cur + c else c)
      }
      decremented += other.decremented
      total += other.total
      if (counts.size > capacity) {
        // subtract the (capacity+1)-th largest count from everything
        val sorted = entries.map(_._2).toArray.sorted(Ordering[Long].reverse)
        val t = sorted(capacity)
        subtractAll(t)
        decremented += t
      }
      this
    }

    /** Estimated count (a LOWER bound; `est <= true <= est + decremented`).
      * Absent keys estimate 0, with `true <= decremented` guaranteed. */
    def estimate(x: Long): Long = {
      val c = counts.get(x)
      if (c != null) c.longValue() else 0L
    }

    /** Top-n entries by estimate, ties broken by key ascending (fully
      * deterministic output — the driver-gate requirement). */
    def topK(n: Int): Seq[(Long, Long)] =
      entries.sortBy { case (k, c) => (-c, k) }.take(n)
  }

  // --- serialization: big-endian [version, capacity, D, N, size] header
  //     + (key, count) pairs sorted by key (byte-deterministic) ---

  def toBytes(s: Summary): Array[Byte] = {
    val entries = s.entries.sortBy(_._1)
    val bb = ByteBuffer.allocate(40 + 16 * entries.size).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(SerialVersion).putLong(s.capacity.toLong)
      .putLong(s.decremented).putLong(s.total).putLong(entries.size.toLong)
    entries.foreach { case (k, c) => bb.putLong(k).putLong(c) }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Summary = {
    require(bytes.length >= 40, s"FrequentItems serialized size ${bytes.length} < 40")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getLong()
    require(version == SerialVersion, s"FrequentItems serialized version $version")
    // range-check the Long header fields BEFORE narrowing to Int (a corrupt
    // capacity of 2^32+16 must fail here, not silently truncate to 16 —
    // mirrors Kmv.fromBytes)
    val capacityL = bb.getLong()
    require(capacityL >= 1 && capacityL <= Int.MaxValue,
      s"FrequentItems capacity $capacityL out of range")
    val capacity = capacityL.toInt
    val s = new Summary(capacity)
    s.decremented = bb.getLong()
    s.total = bb.getLong()
    require(s.decremented >= 0 && s.total >= 0,
      s"FrequentItems negative counters: decremented=${s.decremented} total=${s.total}")
    val sizeL = bb.getLong()
    require(sizeL >= 0 && sizeL <= capacity, s"FrequentItems size $sizeL for capacity $capacity")
    val size = sizeL.toInt
    require(bytes.length == 40L + 16L * size, s"FrequentItems serialized size ${bytes.length}")
    var i = 0
    while (i < size) { s.counts.put(bb.getLong(), bb.getLong()); i += 1 }
    s
  }
}
