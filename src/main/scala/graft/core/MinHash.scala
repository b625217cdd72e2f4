package graft.core

/** MinHash signatures (Broder 1997) and SimHash fingerprints (Charikar
  * 2002) for near-duplicate detection — the same mergeable-sketch shape as
  * the rest of the family: a MinHash signature is an elementwise-min monoid
  * over the shingle set, so per-partition signatures merge exactly like the
  * Bloom word-OR.
  *
  * All randomness is derived from SipHash with fixed keys (counter-based),
  * so signatures are deterministic across executors and runs.
  */
object MinHash {

  /** SplitMix64 finalizer (Steele/Lea/Flood 2014; public domain constants):
    * full-avalanche 64-bit bijection. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^= z >>> 31
    z
  }

  /** The h per-permutation hash values for one shingle: the
    * Kirsch–Mitzenmacher seed g_i(x) = lo + (i+1)*hi over one 128-bit
    * SipHash of the shingle — one hash evaluation per shingle regardless of
    * h — passed through a full-avalanche finalizer.
    *
    * The finalizer is LOAD-BEARING: without it, for any two shingles x, y
    * the sign of g_i(x) - g_i(y) = (lo_x - lo_y) + (i+1)(hi_x - hi_y) is
    * linear in i and flips AT MOST ONCE across all h components, so the
    * signature is the lower envelope of |set| lines — a handful of
    * effectively independent components instead of h. Measured on the
    * 1M-doc LSH stress corpus (J=0.806 pairs, 32 bands x 4 rows): 11
    * misses in 100k planted pairs vs the ~2e-8/pair independent-hash
    * prediction — 4,700x too many. The bijective mix destroys the linear
    * order across i, restoring per-component independence (misses drop to
    * the predicted ~0). */
  @inline private def gi(lo: Long, hi: Long, i: Int): Long =
    mix64(lo + (i + 1).toLong * hi)

  /** Update a signature with one shingle hash pair (elementwise min). */
  def addShingle(sig: Array[Long], lo: Long, hi: Long): Unit = {
    var i = 0
    while (i < sig.length) {
      val g = gi(lo, hi, i)
      if (g < sig(i)) sig(i) = g
      i += 1
    }
  }

  def emptySignature(h: Int): Array[Long] = Array.fill(h)(Long.MaxValue)

  /** Signature of a set of word shingles (n-grams joined with U+0000). */
  def signature(k0: Long, k1: Long, shingles: Iterator[String], h: Int): Array[Long] = {
    val sig = emptySignature(h)
    val out = new Array[Long](2)
    while (shingles.hasNext) {
      val utf8 = shingles.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      SipHash.hash128Into(k0, k1, utf8, utf8.length, out)
      addShingle(sig, out(1), out(0))
    }
    sig
  }

  /** Signature over the word n-gram shingles of `words` — value-identical
    * to `signature(k0, k1, wordShingles(words, n), h)` but allocation-light
    * (the optimization-round hot-kernel rule): each word's UTF-8 bytes are
    * materialized ONCE, every shingle is assembled into one reusable
    * scratch buffer and hashed in place with [[SipHash.hash128Into]].
    * Byte-identity with the string path holds because U+0000 (the shingle
    * joiner) encodes as the single byte 0x00 in standard UTF-8, so the
    * joined string's UTF-8 bytes ARE word bytes + 0x00 separators. The
    * string-per-shingle + bytes-per-shingle churn of the iterator path was
    * the LSH bench phase's dominant allocation. */
  def signatureOfWords(k0: Long, k1: Long, words: Array[String], n: Int, h: Int): Array[Long] = {
    val sig = emptySignature(h)
    if (words.length == 0) return sig
    val wb = new Array[Array[Byte]](words.length)
    var i = 0
    var maxLen = 0
    while (i < words.length) {
      wb(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      maxLen += wb(i).length
      i += 1
    }
    val eff = math.min(n, words.length) // < n words: one all-words shingle
    val out = new Array[Long](2)
    val buf = new Array[Byte](maxLen + words.length) // upper bound incl. joiners
    val last = words.length - eff
    var s = 0
    while (s <= last) {
      var len = 0
      var j = 0
      while (j < eff) {
        if (j > 0) { buf(len) = 0; len += 1 }
        val b = wb(s + j)
        System.arraycopy(b, 0, buf, len, b.length)
        len += b.length
        j += 1
      }
      SipHash.hash128Into(k0, k1, buf, len, out)
      addShingle(sig, out(1), out(0))
      s += 1
    }
    sig
  }

  /** Distinct 64-bit shingle hashes in first-occurrence order —
    * value-identical to
    * `wordShingles(words, n).map(SipHash.hashString(k0, k1, _)).toArray.distinct`
    * with the same scratch-buffer assembly as [[signatureOfWords]]. */
  def shingleHashes64(k0: Long, k1: Long, words: Array[String], n: Int): Array[Long] = {
    if (words.length == 0) return Array.emptyLongArray
    val wb = new Array[Array[Byte]](words.length)
    var i = 0
    var maxLen = 0
    while (i < words.length) {
      wb(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      maxLen += wb(i).length
      i += 1
    }
    val eff = math.min(n, words.length)
    val buf = new Array[Byte](maxLen + words.length)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val last = words.length - eff
    var s = 0
    while (s <= last) {
      var len = 0
      var j = 0
      while (j < eff) {
        if (j > 0) { buf(len) = 0; len += 1 }
        val b = wb(s + j)
        System.arraycopy(b, 0, buf, len, b.length)
        len += b.length
        j += 1
      }
      seen.add(SipHash.hash64Range(k0, k1, buf, len))
      s += 1
    }
    val res = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { res(o) = it.next().longValue(); o += 1 }
    res
  }

  /** Elementwise-min merge — signature of the union of the two sets. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, "minhash merge: size mismatch")
    var i = 0
    while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** True iff the signature has seen no shingles (all sentinel slots). */
  def isEmpty(sig: Array[Long]): Boolean = {
    var i = 0
    while (i < sig.length) { if (sig(i) != Long.MaxValue) return false; i += 1 }
    true
  }

  /** Jaccard similarity estimate: fraction of agreeing components.
    * Standard error ~ 1/sqrt(h). Empty signatures (no shingles) estimate
    * 0.0 against anything — unfilled sentinel slots must not count as
    * agreement or every empty document becomes a perfect duplicate. */
  def estimateJaccard(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length, "minhash estimate: size mismatch")
    if (isEmpty(a) || isEmpty(b)) return 0.0
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`
    * components, each band hashed to one long. Two sets with Jaccard s
    * share at least one band key with probability 1 - (1 - s^r)^b. */
  def bandKeys(k0: Long, k1: Long, sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    require(bands * rowsPerBand <= sig.length,
      s"bands($bands) * rows($rowsPerBand) > signature length ${sig.length}")
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0x9e3779b97f4a7c15L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = SipHash.hashLong(k0 ^ b.toLong, k1 + r.toLong, acc ^ sig(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    keys
  }

  /** Word n-gram shingles of a whitespace-tokenized text. */
  def wordShingles(words: Array[String], n: Int): Iterator[String] =
    if (words.length < n) {
      if (words.isEmpty) Iterator.empty else Iterator(words.mkString("\u0000"))
    } else
      (0 to words.length - n).iterator.map(i => words.slice(i, i + n).mkString("\u0000"))
}

/** 64-bit SimHash over a term multiset: fingerprint bit j is the sign of
  * the sum of (+1/-1) contributions of each term's hash bit j. Documents
  * within small Hamming distance are near-duplicates. */
object SimHash {

  def fingerprint(k0: Long, k1: Long, terms: Iterator[String]): Long = {
    val acc = new Array[Int](64)
    while (terms.hasNext) {
      val h = SipHash.hashString(k0, k1, terms.next())
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** The 4 16-bit chunks of a fingerprint: by pigeonhole, two fingerprints
    * with Hamming distance <= 3 share at least one identical chunk — the
    * standard SimHash candidate-bucketing scheme. */
  def chunks(fp: Long): Array[Int] =
    Array.tabulate(4)(i => ((fp >>> (16 * i)) & 0xffffL).toInt)
}
