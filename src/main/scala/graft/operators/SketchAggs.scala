package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

import graft.core._

/** Typed Dataset `Aggregator`s wrapping the core sketch family.
  *
  * This is THE architectural translation of the reference (SURVEY.md §1.2):
  * the reference shares one mutable filter across threads and synchronizes
  * with an atomic fetch-or (reference `Internal.hs:449-454`); under Spark,
  * each task owns its aggregation buffer, Catalyst runs partial aggregation
  * per partition (`reduce`) and merges partials after the shuffle (`merge`)
  * — contention-free, and it sidesteps the reference's documented negative
  * write-scaling across threads (reference `README.md:24-29`).
  *
  * All buffers are native arrays or compact objects; `reduce`/`merge`
  * mutate and return their left argument (Spark owns the buffer). Register
  * with `functions.udaf(agg, inputEncoder)` or use via `Dataset.select` on
  * typed columns.
  */
object SketchAggs {

  private def longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  private def byteArrayEnc: Encoder[Array[Byte]] = Encoders.BINARY

  // ------------------------------------------------------------- Bloom

  /** Bloom over a column of token arrays (`tokens: array<int>`): every
    * element of every array is inserted. OUT = serialized filter bytes. */
  final class BloomTokensAgg(cfg: BloomConfig) extends Aggregator[Array[Int], Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](cfg.l)
    override def reduce(buf: Array[Long], tokens: Array[Int]): Array[Long] = {
      if (tokens != null) {
        var i = 0
        while (i < tokens.length) { BlockedBloom.insertInt(buf, cfg, tokens(i)); i += 1 }
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BlockedBloom.unionInPlace(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Bloom over a scalar int column. */
  final class BloomIntAgg(cfg: BloomConfig) extends Aggregator[Int, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](cfg.l)
    override def reduce(buf: Array[Long], x: Int): Array[Long] = {
      BlockedBloom.insertInt(buf, cfg, x); buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BlockedBloom.unionInPlace(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Bloom over a long column (e.g. doc ids, join keys for runtime filters). */
  final class BloomLongAgg(cfg: BloomConfig) extends Aggregator[Long, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](cfg.l)
    override def reduce(buf: Array[Long], x: Long): Array[Long] = {
      BlockedBloom.insertLong(buf, cfg, x); buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BlockedBloom.unionInPlace(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.Long)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Bloom over a string column (UTF-8 canonical encoding). */
  final class BloomStringAgg(cfg: BloomConfig) extends Aggregator[String, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](cfg.l)
    override def reduce(buf: Array[Long], s: String): Array[Long] = {
      if (s != null) BlockedBloom.insertString(buf, cfg, s)
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BlockedBloom.unionInPlace(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.String)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Decoded merge buffer: incoming serialized filters are parsed (and
    * key-validated) ONCE each; the accumulated state stays decoded words,
    * serialized only in `finish`. Round 1 kept the buffer as serialized
    * bytes, paying fromBytes+toBytes (two full-array copies + header
    * validation) per reduce step — O(partials x sketch_size) churn at
    * scale (VERDICT round 1, "What's wrong" #3). `words == null` marks the
    * empty buffer. */
  final case class BloomMergeBuf(words: Array[Long], k: Int, log2l: Int, typeTag: Long)

  /** Merges already-serialized Bloom filters (second-level aggregation:
    * e.g. per-(source,salt) partials -> per-source, or per-source -> global).
    * Accepts mixed sizes by folding larger filters down to the smallest —
    * the distributed analogue of the reference's different-size `unionInto`
    * (`Internal.hs:509-550`). Filters must share key, k and hash width. */
  final class BloomMergeAgg(k0: Long, k1: Long) extends Aggregator[Array[Byte], BloomMergeBuf, Array[Byte]] {
    override def zero: BloomMergeBuf = BloomMergeBuf(null, 0, 0, 0L)

    private def decode(x: Array[Byte]): BloomMergeBuf = {
      val (cfg, w, tag) = BlockedBloom.fromBytes(k0, k1, x)
      BloomMergeBuf(w, cfg.k, cfg.log2l, tag)
    }

    @inline private def hash64Enough(k: Int, log2l: Int): Boolean = 6 * k + log2l <= 64

    /** May mutate and return `a` (Spark owns the left buffer); never
      * mutates `b`'s array unless `b` becomes the returned buffer. */
    private def mergeBufs(a: BloomMergeBuf, b: BloomMergeBuf): BloomMergeBuf = {
      if (a.words == null) return b
      if (b.words == null) return a
      require(a.k == b.k, s"bloom merge: k mismatch ${a.k} vs ${b.k}")
      require(a.typeTag == b.typeTag, s"bloom merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      require(hash64Enough(a.k, a.log2l) == hash64Enough(b.k, b.log2l),
        "bloom merge: hash-width mismatch (different-size filters must share the hash path)")
      if (a.log2l <= b.log2l) {
        val src = if (a.log2l == b.log2l) b.words else BlockedBloom.fold(b.words, a.log2l)
        BlockedBloom.unionInPlace(a.words, src)
        a
      } else {
        val folded = BlockedBloom.fold(a.words, b.log2l)
        BlockedBloom.unionInPlace(folded, b.words)
        BloomMergeBuf(folded, a.k, b.log2l, a.typeTag)
      }
    }

    override def reduce(buf: BloomMergeBuf, x: Array[Byte]): BloomMergeBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: BloomMergeBuf, b2: BloomMergeBuf): BloomMergeBuf = mergeBufs(b1, b2)
    override def finish(buf: BloomMergeBuf): Array[Byte] =
      if (buf.words == null) Array.emptyByteArray
      else BlockedBloom.toBytes(buf.words, BloomConfig(k0, k1, buf.k, buf.log2l), buf.typeTag)
    override def bufferEncoder: Encoder[BloomMergeBuf] = ExpressionEncoder[BloomMergeBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Buffer for the new-count build: filter words + running count. */
  final case class BloomNewCountBuf(words: Array[Long], newCount: Long)

  /** Finished filter + its approximate new-element count. */
  final case class BloomWithNewCount(bloom: Array[Byte], approx_new: Long)

  /** Bloom build that also surfaces the reference insert's "probably new"
    * Bool (`Internal.hs:449-454`) as an aggregate count: within one task
    * the count is exactly the number of inserts that set at least one new
    * bit (<= distinct, equal up to in-filter collisions); across merged
    * partials the counts sum, making the result an UPPER bound on that
    * quantity (the same element can be first-seen in two partitions).
    * Matches the reference exactly in its own setting — one sequential
    * filter — and degrades gracefully distributed; use HLL when a
    * tight distributed distinct estimate is the goal. */
  final class BloomTokensNewCountAgg(cfg: BloomConfig)
      extends Aggregator[Array[Int], BloomNewCountBuf, BloomWithNewCount] {
    override def zero: BloomNewCountBuf = BloomNewCountBuf(new Array[Long](cfg.l), 0L)
    override def reduce(buf: BloomNewCountBuf, tokens: Array[Int]): BloomNewCountBuf = {
      if (tokens == null) return buf
      var added = 0L
      var i = 0
      while (i < tokens.length) {
        if (BlockedBloom.insertInt(buf.words, cfg, tokens(i))) added += 1L
        i += 1
      }
      if (added == 0L) buf else BloomNewCountBuf(buf.words, buf.newCount + added)
    }
    override def merge(b1: BloomNewCountBuf, b2: BloomNewCountBuf): BloomNewCountBuf = {
      BlockedBloom.unionInPlace(b1.words, b2.words)
      BloomNewCountBuf(b1.words, b1.newCount + b2.newCount)
    }
    override def finish(buf: BloomNewCountBuf): BloomWithNewCount = BloomWithNewCount(
      BlockedBloom.toBytes(buf.words, cfg, BlockedBloom.TypeTag.Int), buf.newCount)
    override def bufferEncoder: Encoder[BloomNewCountBuf] = ExpressionEncoder[BloomNewCountBuf]()
    override def outputEncoder: Encoder[BloomWithNewCount] = ExpressionEncoder[BloomWithNewCount]()
  }

  // --------------------------------------------------------------- HLL

  /** HLL distinct-count over token arrays (distinct token ids). */
  final class HllTokensAgg(k0: Long, k1: Long, p: Int) extends Aggregator[Array[Int], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Hll.empty(p)
    override def reduce(buf: Array[Byte], tokens: Array[Int]): Array[Byte] = {
      if (tokens != null) {
        var i = 0
        while (i < tokens.length) { Hll.addHash(buf, p, SipHash.hashInt(k0, k1, tokens(i))); i += 1 }
      }
      buf
    }
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = Hll.merge(b1, b2)
    override def finish(buf: Array[Byte]): Array[Byte] =
      Hll.toBytes(buf, p, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1))
    override def bufferEncoder: Encoder[Array[Byte]] = byteArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** HLL distinct-count over a string column (e.g. distinct doc_id per source). */
  final class HllStringAgg(k0: Long, k1: Long, p: Int) extends Aggregator[String, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Hll.empty(p)
    override def reduce(buf: Array[Byte], s: String): Array[Byte] = {
      if (s != null) Hll.addHash(buf, p, SipHash.hashString(k0, k1, s))
      buf
    }
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = Hll.merge(b1, b2)
    override def finish(buf: Array[Byte]): Array[Byte] =
      Hll.toBytes(buf, p, BlockedBloom.TypeTag.String, SipHash.hashLong(k0, k1, k0 ^ k1))
    override def bufferEncoder: Encoder[Array[Byte]] = byteArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** HLL over a long column. */
  final class HllLongAgg(k0: Long, k1: Long, p: Int) extends Aggregator[Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Hll.empty(p)
    override def reduce(buf: Array[Byte], x: Long): Array[Byte] = {
      Hll.addHash(buf, p, SipHash.hashLong(k0, k1, x)); buf
    }
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = Hll.merge(b1, b2)
    override def finish(buf: Array[Byte]): Array[Byte] =
      Hll.toBytes(buf, p, BlockedBloom.TypeTag.Long, SipHash.hashLong(k0, k1, k0 ^ k1))
    override def bufferEncoder: Encoder[Array[Byte]] = byteArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  // --------------------------------------------------------- count-min

  /** Count-min over token arrays: one increment per token occurrence. */
  final class CmsTokensAgg(cfg: CmsConfig) extends Aggregator[Array[Int], Array[Long], Array[Byte]] {
    override def zero: Array[Long] = CountMin.empty(cfg)
    override def reduce(buf: Array[Long], tokens: Array[Int]): Array[Long] = {
      if (tokens != null) {
        val scratch = new Array[Long](2) // one alloc per row, not per token
        var i = 0
        while (i < tokens.length) {
          SipHash.hash128IntInto(cfg.k0, cfg.k1, tokens(i), scratch)
          CountMin.addHash(buf, cfg, scratch(1), scratch(0) | 1L)
          i += 1
        }
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = CountMin.merge(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      CountMin.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  // ----------------------------------------------------------- quantiles

  /** KLL quantile sketch over a double column. Buffer is the sketch object
    * (kryo-encoded across shuffles; compactor state is compact by design). */
  final class KllDoubleAgg(k: Int) extends Aggregator[Double, KllSketch, Array[Byte]] {
    override def zero: KllSketch = new KllSketch(k)
    override def reduce(buf: KllSketch, x: Double): KllSketch = { buf.add(x); buf }
    override def merge(b1: KllSketch, b2: KllSketch): KllSketch = b1.merge(b2)
    override def finish(buf: KllSketch): Array[Byte] = buf.toBytes
    override def bufferEncoder: Encoder[KllSketch] = Encoders.kryo[KllSketch]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Merging t-digest over a double column. */
  final class TDigestDoubleAgg(compression: Double) extends Aggregator[Double, TDigest, Array[Byte]] {
    override def zero: TDigest = new TDigest(compression)
    override def reduce(buf: TDigest, x: Double): TDigest = { buf.add(x); buf }
    override def merge(b1: TDigest, b2: TDigest): TDigest = b1.merge(b2)
    override def finish(buf: TDigest): Array[Byte] = buf.toBytes
    override def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Merges already-serialized KLL sketches (second-level aggregation:
    * the checkpoint-merge shape, completing the family — Bloom/HLL/CMS/
    * Misra-Gries/KMV all have one). Buffer is the decoded sketch object
    * (`null` = empty); k must match (enforced by [[KllSketch.merge]]);
    * the merged sketch obeys the same rank-error bound as a single build
    * over the union stream. */
  final class KllBytesMergeAgg extends Aggregator[Array[Byte], KllSketch, Array[Byte]] {
    override def zero: KllSketch = null
    override def reduce(buf: KllSketch, x: Array[Byte]): KllSketch =
      if (x == null || x.isEmpty) buf
      else { val s = Kll.fromBytes(x); if (buf == null) s else buf.merge(s) }
    override def merge(b1: KllSketch, b2: KllSketch): KllSketch =
      if (b1 == null) b2 else if (b2 == null) b1 else b1.merge(b2)
    override def finish(buf: KllSketch): Array[Byte] =
      if (buf == null) Array.emptyByteArray else buf.toBytes
    override def bufferEncoder: Encoder[KllSketch] = Encoders.kryo[KllSketch]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Merges already-serialized t-digests (second-level aggregation).
    * Compression must match (enforced by [[TDigest.merge]]). */
  final class TDigestBytesMergeAgg extends Aggregator[Array[Byte], TDigest, Array[Byte]] {
    override def zero: TDigest = null
    override def reduce(buf: TDigest, x: Array[Byte]): TDigest =
      if (x == null || x.isEmpty) buf
      else { val s = TDigest.fromBytes(x); if (buf == null) s else buf.merge(s) }
    override def merge(b1: TDigest, b2: TDigest): TDigest =
      if (b1 == null) b2 else if (b2 == null) b1 else b1.merge(b2)
    override def finish(buf: TDigest): Array[Byte] =
      if (buf == null) Array.emptyByteArray else buf.toBytes
    override def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  // ---------------------------------------------- frequent items (MG/SS)

  /** Misra-Gries heavy-hitter summary over a long key column — top-k when
    * the key universe is far larger than any counter table (vocab ≫ width),
    * where the CMS + exact-candidate-enumeration pattern stops scaling.
    * Exact invariants (est <= true <= est + D; true > D ⇒ present;
    * D <= N/capacity) hold for ANY partitioning/merge order, so a driver
    * gate can assert them even though the summary content itself is
    * order-dependent. */
  final class HeavyHittersLongAgg(capacity: Int)
      extends Aggregator[Long, FrequentItems.Summary, Array[Byte]] {
    override def zero: FrequentItems.Summary = new FrequentItems.Summary(capacity)
    override def reduce(buf: FrequentItems.Summary, x: Long): FrequentItems.Summary = {
      buf.add(x); buf
    }
    override def merge(b1: FrequentItems.Summary, b2: FrequentItems.Summary): FrequentItems.Summary =
      b1.mergeInPlace(b2)
    override def finish(buf: FrequentItems.Summary): Array[Byte] = FrequentItems.toBytes(buf)
    override def bufferEncoder: Encoder[FrequentItems.Summary] = Encoders.kryo[FrequentItems.Summary]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** WEIGHTED Misra-Gries heavy hitters over (key, weight) pairs — e.g.
    * token-MASS ranking where each occurrence carries a count. The core
    * summary's weighted `add` keeps every guarantee with N = total weight
    * (est <= true-mass <= est + D; any key with mass > D present;
    * D*capacity <= N). Negative weights are rejected by the core. */
  final class HeavyHittersWeightedLongAgg(capacity: Int)
      extends Aggregator[(Long, Long), FrequentItems.Summary, Array[Byte]] {
    override def zero: FrequentItems.Summary = new FrequentItems.Summary(capacity)
    override def reduce(buf: FrequentItems.Summary, kv: (Long, Long)): FrequentItems.Summary = {
      buf.add(kv._1, kv._2); buf
    }
    override def merge(b1: FrequentItems.Summary, b2: FrequentItems.Summary): FrequentItems.Summary =
      b1.mergeInPlace(b2)
    override def finish(buf: FrequentItems.Summary): Array[Byte] = FrequentItems.toBytes(buf)
    override def bufferEncoder: Encoder[FrequentItems.Summary] = Encoders.kryo[FrequentItems.Summary]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Merges already-serialized Misra-Gries summaries (second-level
    * aggregation: per-(source,salt) partials -> per-source, or per-source
    * -> global; the checkpoint-merge shape). Capacities must match; the
    * merged guarantees degrade exactly as the in-memory merge's (D sums,
    * plus one prune). `null` marks the empty buffer (the BloomMergeAgg
    * decoded-buffer pattern: parse each input once, serialize in finish). */
  final class HeavyHittersMergeAgg
      extends Aggregator[Array[Byte], FrequentItems.Summary, Array[Byte]] {
    override def zero: FrequentItems.Summary = null
    // family convention (Bloom/KMV/KLL/TDigest merge aggs): empty inputs are
    // skipped and an empty group finishes to Array.emptyByteArray, so chained
    // merge levels (checkpoint-merge shape) never feed fromBytes a too-short
    // payload
    override def reduce(buf: FrequentItems.Summary, bytes: Array[Byte]): FrequentItems.Summary = {
      if (bytes == null || bytes.isEmpty) buf
      else {
        val s = FrequentItems.fromBytes(bytes)
        if (buf == null) s else buf.mergeInPlace(s)
      }
    }
    override def merge(b1: FrequentItems.Summary, b2: FrequentItems.Summary): FrequentItems.Summary =
      if (b1 == null) b2 else if (b2 == null) b1 else b1.mergeInPlace(b2)
    override def finish(buf: FrequentItems.Summary): Array[Byte] =
      if (buf == null) Array.emptyByteArray else FrequentItems.toBytes(buf)
    override def bufferEncoder: Encoder[FrequentItems.Summary] = Encoders.kryo[FrequentItems.Summary]
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  // --------------------------------------------------------------- KMV

  /** KMV buffer: capacity-k hash array + valid prefix length. Plain arrays
    * + Int so the ExpressionEncoder stays native (no Kryo object graphs in
    * the shuffle — see the FrequentItems LongMap post-shuffle SIGSEGV note
    * in BASELINE.md for why that matters). */
  final case class KmvBuf(hashes: Array[Long], size: Int)

  private def kmvKeyHash(k0: Long, k1: Long): Long = SipHash.hashLong(k0, k1, k0 ^ k1)

  /** KMV distinct sketch over token arrays (distinct-token cardinality,
    * intersection, Jaccard — the set-CARDINALITY analogue of the Bloom
    * set ops; see [[graft.core.Kmv]]). */
  final class KmvTokensAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[Array[Int], KmvBuf, Array[Byte]] {
    override def zero: KmvBuf = KmvBuf(Kmv.emptyHashes(k), 0)
    override def reduce(buf: KmvBuf, tokens: Array[Int]): KmvBuf = {
      if (tokens == null) buf
      else {
        var s = buf.size
        var i = 0
        while (i < tokens.length) {
          s = Kmv.add(buf.hashes, s, SipHash.hashInt(k0, k1, tokens(i))); i += 1
        }
        if (s == buf.size) buf else KmvBuf(buf.hashes, s)
      }
    }
    override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
      val (h, s) = Kmv.merge(b1.hashes, b1.size, b2.hashes, b2.size)
      KmvBuf(h, s)
    }
    override def finish(buf: KmvBuf): Array[Byte] =
      Kmv.toBytes(buf.hashes, buf.size, BlockedBloom.TypeTag.Int, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[KmvBuf] = ExpressionEncoder[KmvBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** KMV over a long column (e.g. distinct custkeys per group). */
  final class KmvLongAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[Long, KmvBuf, Array[Byte]] {
    override def zero: KmvBuf = KmvBuf(Kmv.emptyHashes(k), 0)
    override def reduce(buf: KmvBuf, x: Long): KmvBuf = {
      val s = Kmv.add(buf.hashes, buf.size, SipHash.hashLong(k0, k1, x))
      if (s == buf.size) buf else KmvBuf(buf.hashes, s)
    }
    override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
      val (h, s) = Kmv.merge(b1.hashes, b1.size, b2.hashes, b2.size)
      KmvBuf(h, s)
    }
    override def finish(buf: KmvBuf): Array[Byte] =
      Kmv.toBytes(buf.hashes, buf.size, BlockedBloom.TypeTag.Long, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[KmvBuf] = ExpressionEncoder[KmvBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** KMV over a string column (e.g. distinct n-grams per source — the
    * cross-source overlap matrix). Null strings are skipped, matching the
    * HLL string aggregator's convention. */
  final class KmvStringAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[String, KmvBuf, Array[Byte]] {
    override def zero: KmvBuf = KmvBuf(Kmv.emptyHashes(k), 0)
    override def reduce(buf: KmvBuf, x: String): KmvBuf = {
      if (x == null) buf
      else {
        val s = Kmv.add(buf.hashes, buf.size, SipHash.hashString(k0, k1, x))
        if (s == buf.size) buf else KmvBuf(buf.hashes, s)
      }
    }
    override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
      val (h, s) = Kmv.merge(b1.hashes, b1.size, b2.hashes, b2.size)
      KmvBuf(h, s)
    }
    override def finish(buf: KmvBuf): Array[Byte] =
      Kmv.toBytes(buf.hashes, buf.size, BlockedBloom.TypeTag.String, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[KmvBuf] = ExpressionEncoder[KmvBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Merges already-serialized KMV sketches (second-level aggregation).
    * Accepts mixed capacities by folding down to the smallest (see
    * [[graft.core.Kmv.merge]]); key and element type must match. `null`
    * hashes marks the empty buffer. */
  final class KmvMergeAgg(k0: Long, k1: Long)
      extends Aggregator[Array[Byte], KmvMergeBuf, Array[Byte]] {
    override def zero: KmvMergeBuf = KmvMergeBuf(null, 0, 0L)

    private def decode(x: Array[Byte]): KmvMergeBuf = {
      val (h, s, tag, storedKeyHash) = Kmv.fromBytes(x)
      require(storedKeyHash == kmvKeyHash(k0, k1),
        "KMV merge: sketch was built with a different SipHash key")
      KmvMergeBuf(h, s, tag)
    }

    private def mergeBufs(a: KmvMergeBuf, b: KmvMergeBuf): KmvMergeBuf = {
      if (a.hashes == null) return b
      if (b.hashes == null) return a
      require(a.typeTag == b.typeTag,
        s"KMV merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      val (h, s) = Kmv.merge(a.hashes, a.size, b.hashes, b.size)
      KmvMergeBuf(h, s, a.typeTag)
    }

    override def reduce(buf: KmvMergeBuf, x: Array[Byte]): KmvMergeBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: KmvMergeBuf, b2: KmvMergeBuf): KmvMergeBuf = mergeBufs(b1, b2)
    override def finish(buf: KmvMergeBuf): Array[Byte] =
      if (buf.hashes == null) Array.emptyByteArray
      else Kmv.toBytes(buf.hashes, buf.size, buf.typeTag, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[KmvMergeBuf] = ExpressionEncoder[KmvMergeBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Decoded KMV merge buffer (`hashes == null` = empty). */
  final case class KmvMergeBuf(hashes: Array[Long], size: Int, typeTag: Long)

  // ------------------------------------------------- bottom-k value sample

  /** Bottom-k sample buffer: parallel (hash, value) arrays + valid prefix
    * (plain arrays — native encoder, same rationale as [[KmvBuf]]). */
  final case class BottomKBuf(hashes: Array[Long], values: Array[Long], size: Int)

  /** Mergeable uniform sample of k distinct LONG values per group (see
    * [[graft.core.BottomK]] — deterministic, sampling without replacement;
    * the shuffle carries one <= k-entry summary per (partition, group)
    * instead of every row). */
  final class BottomKLongAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[Long, BottomKBuf, Array[Byte]] {
    override def zero: BottomKBuf = {
      val (h, v) = BottomK.emptyBuffers(k)
      BottomKBuf(h, v, 0)
    }
    override def reduce(buf: BottomKBuf, x: Long): BottomKBuf = {
      val s = BottomK.add(buf.hashes, buf.values, buf.size, SipHash.hashLong(k0, k1, x), x)
      if (s == buf.size) buf else BottomKBuf(buf.hashes, buf.values, s)
    }
    override def merge(b1: BottomKBuf, b2: BottomKBuf): BottomKBuf = {
      val (h, v, s) = BottomK.merge(b1.hashes, b1.values, b1.size, b2.hashes, b2.values, b2.size)
      BottomKBuf(h, v, s)
    }
    override def finish(buf: BottomKBuf): Array[Byte] =
      BottomK.toBytes(buf.hashes, buf.values, buf.size,
        BlockedBloom.TypeTag.Long, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKBuf] = ExpressionEncoder[BottomKBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** WEIGHT-PROPORTIONAL sample of k distinct LONG values per group —
    * Efraimidis–Spirakis keys ([[graft.core.BottomK.esKey]]) over the
    * existing bottom-k machinery: input (value, weight), keep the k
    * smallest -ln(u)/w exponentials. "k docs per source, weight ∝ n_tok"
    * without the full-shuffle `ORDER BY -ln(rand())/w` window — the
    * shuffle carries one <= k-entry summary per (partition, group), and
    * the sample is deterministic for a fixed SipHash key.
    *
    * Rows with weight <= 0 are SKIPPED (zero sampling mass). The weight
    * must be a function of the value (doc_id -> n_tok): a value seen with
    * two different weights would get two different keys and could appear
    * twice, exactly like the window formulation it replaces. */
  final class BottomKWeightedLongAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[(Long, Long), BottomKBuf, Array[Byte]] {
    override def zero: BottomKBuf = {
      val (h, v) = BottomK.emptyBuffers(k)
      BottomKBuf(h, v, 0)
    }
    override def reduce(buf: BottomKBuf, x: (Long, Long)): BottomKBuf = {
      if (x._2 <= 0L) buf
      else {
        val key = BottomK.esKey(SipHash.hashLong(k0, k1, x._1), x._2.toDouble)
        val s = BottomK.addW(buf.hashes, buf.values, buf.size, key, x._1, BottomK.cmpLong)
        if (s == buf.size) buf else BottomKBuf(buf.hashes, buf.values, s)
      }
    }
    override def merge(b1: BottomKBuf, b2: BottomKBuf): BottomKBuf = {
      val (h, v, s) = BottomK.mergeW(b1.hashes, b1.values, b1.size,
        b2.hashes, b2.values, b2.size, BottomK.cmpLong)
      BottomKBuf(h, v, s)
    }
    override def finish(buf: BottomKBuf): Array[Byte] =
      BottomK.toBytesWeighted(buf.hashes, buf.values, buf.size,
        BlockedBloom.TypeTag.Long, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKBuf] = ExpressionEncoder[BottomKBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Serialized second-level merge for ES-WEIGHTED samples (the version-2
    * layout; [[graft.core.BottomK.fromBytesWeighted]] rejects uniform
    * payloads, so the two sample populations cannot silently mix). Same
    * family conventions as [[BottomKMergeAgg]]. */
  final class BottomKWeightedMergeAgg(k0: Long, k1: Long)
      extends Aggregator[Array[Byte], BottomKMergeBuf, Array[Byte]] {
    override def zero: BottomKMergeBuf = BottomKMergeBuf(null, null, 0, 0L)

    private def decode(x: Array[Byte]): BottomKMergeBuf = {
      val (h, v, s, tag, storedKeyHash) = BottomK.fromBytesWeighted(x)
      require(storedKeyHash == kmvKeyHash(k0, k1),
        "BottomK merge: sample was built with a different SipHash key")
      BottomKMergeBuf(h, v, s, tag)
    }

    private def mergeBufs(a: BottomKMergeBuf, b: BottomKMergeBuf): BottomKMergeBuf = {
      if (a.hashes == null) return b
      if (b.hashes == null) return a
      require(a.typeTag == b.typeTag,
        s"BottomK merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      val (h, v, s) = BottomK.mergeW(a.hashes, a.values, a.size,
        b.hashes, b.values, b.size, BottomK.cmpLong)
      BottomKMergeBuf(h, v, s, a.typeTag)
    }

    override def reduce(buf: BottomKMergeBuf, x: Array[Byte]): BottomKMergeBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: BottomKMergeBuf, b2: BottomKMergeBuf): BottomKMergeBuf = mergeBufs(b1, b2)
    override def finish(buf: BottomKMergeBuf): Array[Byte] =
      if (buf.hashes == null) Array.emptyByteArray
      else BottomK.toBytesWeighted(buf.hashes, buf.values, buf.size, buf.typeTag, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKMergeBuf] = ExpressionEncoder[BottomKMergeBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** STRING-valued bottom-k sample buffer (values as UTF-8 byte arrays —
    * the input schema's `doc_id` IS a string; sampling must not require a
    * numeric cast). */
  final case class BottomKStrBuf(hashes: Array[Long], values: Array[Array[Byte]], size: Int)

  /** Mergeable uniform sample of k distinct STRING values per group (same
    * monoid as [[BottomKLongAgg]]; hash = SipHash-2-4 over UTF-8 bytes, the
    * Bloom/KMV string convention). */
  final class BottomKStringAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[String, BottomKStrBuf, Array[Byte]] {
    override def zero: BottomKStrBuf = {
      val (h, _) = BottomK.emptyBuffers(k)
      BottomKStrBuf(h, new Array[Array[Byte]](k), 0)
    }
    override def reduce(buf: BottomKStrBuf, x: String): BottomKStrBuf = {
      if (x == null) buf
      else {
        val bytes = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val s = BottomK.addG(buf.hashes, buf.values, buf.size, SipHash.hash64(k0, k1, bytes), bytes)
        if (s == buf.size) buf else BottomKStrBuf(buf.hashes, buf.values, s)
      }
    }
    override def merge(b1: BottomKStrBuf, b2: BottomKStrBuf): BottomKStrBuf = {
      val (h, v, s) = BottomK.mergeG(b1.hashes, b1.values, b1.size, b2.hashes, b2.values, b2.size)
      BottomKStrBuf(h, v, s)
    }
    override def finish(buf: BottomKStrBuf): Array[Byte] =
      BottomK.toBytesStr(buf.hashes, buf.values, buf.size, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKStrBuf] = ExpressionEncoder[BottomKStrBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** WEIGHT-PROPORTIONAL sample of k distinct STRING values per group —
    * the ES machinery of [[BottomKWeightedLongAgg]] over the string
    * layout (the input schema's doc_id IS a string; "k docs per source,
    * P ∝ n_tok" must not require a numeric cast). Weight <= 0 rows are
    * skipped; weight must be a function of the value. */
  final class BottomKWeightedStringAgg(k0: Long, k1: Long, k: Int)
      extends Aggregator[(String, Long), BottomKStrBuf, Array[Byte]] {
    override def zero: BottomKStrBuf = {
      val (h, _) = BottomK.emptyBuffers(k)
      BottomKStrBuf(h, new Array[Array[Byte]](k), 0)
    }
    override def reduce(buf: BottomKStrBuf, x: (String, Long)): BottomKStrBuf = {
      if (x._1 == null || x._2 <= 0L) buf
      else {
        val bytes = x._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val key = BottomK.esKey(SipHash.hash64(k0, k1, bytes), x._2.toDouble)
        val s = BottomK.addW(buf.hashes, buf.values, buf.size, key, bytes, BottomK.cmpUtf8)
        if (s == buf.size) buf else BottomKStrBuf(buf.hashes, buf.values, s)
      }
    }
    override def merge(b1: BottomKStrBuf, b2: BottomKStrBuf): BottomKStrBuf = {
      val (h, v, s) = BottomK.mergeW(b1.hashes, b1.values, b1.size,
        b2.hashes, b2.values, b2.size, BottomK.cmpUtf8)
      BottomKStrBuf(h, v, s)
    }
    override def finish(buf: BottomKStrBuf): Array[Byte] =
      BottomK.toBytesStrWeighted(buf.hashes, buf.values, buf.size, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKStrBuf] = ExpressionEncoder[BottomKStrBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Serialized second-level merge for ES-WEIGHTED STRING samples
    * (version-2 string layout; family conventions). */
  final class BottomKWeightedStringMergeAgg(k0: Long, k1: Long)
      extends Aggregator[Array[Byte], BottomKStrBuf, Array[Byte]] {
    override def zero: BottomKStrBuf = BottomKStrBuf(null, null, 0)

    private def decode(x: Array[Byte]): BottomKStrBuf = {
      val (h, v, s, storedKeyHash) = BottomK.fromBytesStrWeighted(x)
      require(storedKeyHash == kmvKeyHash(k0, k1),
        "BottomK merge: sample was built with a different SipHash key")
      BottomKStrBuf(h, v, s)
    }

    private def mergeBufs(a: BottomKStrBuf, b: BottomKStrBuf): BottomKStrBuf = {
      if (a.hashes == null) return b
      if (b.hashes == null) return a
      val (h, v, s) = BottomK.mergeW(a.hashes, a.values, a.size,
        b.hashes, b.values, b.size, BottomK.cmpUtf8)
      BottomKStrBuf(h, v, s)
    }

    override def reduce(buf: BottomKStrBuf, x: Array[Byte]): BottomKStrBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: BottomKStrBuf, b2: BottomKStrBuf): BottomKStrBuf = mergeBufs(b1, b2)
    override def finish(buf: BottomKStrBuf): Array[Byte] =
      if (buf.hashes == null) Array.emptyByteArray
      else BottomK.toBytesStrWeighted(buf.hashes, buf.values, buf.size, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKStrBuf] = ExpressionEncoder[BottomKStrBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Serialized second-level merge for STRING-valued samples (family
    * conventions: empty skipped, empty group -> empty array, cross-capacity
    * folds down, key enforced; the layout tag is enforced by
    * [[graft.core.BottomK.fromBytesStr]] itself). */
  final class BottomKStringMergeAgg(k0: Long, k1: Long)
      extends Aggregator[Array[Byte], BottomKStrBuf, Array[Byte]] {
    override def zero: BottomKStrBuf = BottomKStrBuf(null, null, 0)

    private def decode(x: Array[Byte]): BottomKStrBuf = {
      val (h, v, s, storedKeyHash) = BottomK.fromBytesStr(x)
      require(storedKeyHash == kmvKeyHash(k0, k1),
        "BottomK merge: sample was built with a different SipHash key")
      BottomKStrBuf(h, v, s)
    }

    private def mergeBufs(a: BottomKStrBuf, b: BottomKStrBuf): BottomKStrBuf = {
      if (a.hashes == null) return b
      if (b.hashes == null) return a
      val (h, v, s) = BottomK.mergeG(a.hashes, a.values, a.size, b.hashes, b.values, b.size)
      BottomKStrBuf(h, v, s)
    }

    override def reduce(buf: BottomKStrBuf, x: Array[Byte]): BottomKStrBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: BottomKStrBuf, b2: BottomKStrBuf): BottomKStrBuf = mergeBufs(b1, b2)
    override def finish(buf: BottomKStrBuf): Array[Byte] =
      if (buf.hashes == null) Array.emptyByteArray
      else BottomK.toBytesStr(buf.hashes, buf.values, buf.size, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKStrBuf] = ExpressionEncoder[BottomKStrBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Decoded bottom-k merge buffer (`hashes == null` = empty). */
  final case class BottomKMergeBuf(
      hashes: Array[Long], values: Array[Long], size: Int, typeTag: Long)

  /** Merges already-serialized bottom-k samples (second-level aggregation,
    * the checkpoint-merge shape; family conventions: empty inputs skipped,
    * empty group finishes to an empty array, cross-capacity folds down,
    * key and element type enforced). */
  final class BottomKMergeAgg(k0: Long, k1: Long)
      extends Aggregator[Array[Byte], BottomKMergeBuf, Array[Byte]] {
    override def zero: BottomKMergeBuf = BottomKMergeBuf(null, null, 0, 0L)

    private def decode(x: Array[Byte]): BottomKMergeBuf = {
      val (h, v, s, tag, storedKeyHash) = BottomK.fromBytes(x)
      require(storedKeyHash == kmvKeyHash(k0, k1),
        "BottomK merge: sample was built with a different SipHash key")
      BottomKMergeBuf(h, v, s, tag)
    }

    private def mergeBufs(a: BottomKMergeBuf, b: BottomKMergeBuf): BottomKMergeBuf = {
      if (a.hashes == null) return b
      if (b.hashes == null) return a
      require(a.typeTag == b.typeTag,
        s"BottomK merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      // hash-identity dedup (merge), matching the first-level addG semantics
      // AND the version-1 strict-ascending serialization invariant; the
      // pair-identity mergeW belongs only to the ES-weighted (version-2) aggs
      val (h, v, s) = BottomK.merge(a.hashes, a.values, a.size,
        b.hashes, b.values, b.size)
      BottomKMergeBuf(h, v, s, a.typeTag)
    }

    override def reduce(buf: BottomKMergeBuf, x: Array[Byte]): BottomKMergeBuf =
      if (x == null || x.isEmpty) buf else mergeBufs(buf, decode(x))
    override def merge(b1: BottomKMergeBuf, b2: BottomKMergeBuf): BottomKMergeBuf = mergeBufs(b1, b2)
    override def finish(buf: BottomKMergeBuf): Array[Byte] =
      if (buf.hashes == null) Array.emptyByteArray
      else BottomK.toBytes(buf.hashes, buf.values, buf.size, buf.typeTag, kmvKeyHash(k0, k1))
    override def bufferEncoder: Encoder[BottomKMergeBuf] = ExpressionEncoder[BottomKMergeBuf]()
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }
}
