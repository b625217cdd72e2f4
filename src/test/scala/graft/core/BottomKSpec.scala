package graft.core

import org.scalatest.funsuite.AnyFunSuite

import BottomK.{LongValues, SerialVersion, SerialVersionWeighted, StringValues}

/** Bottom-k uniform value sample — exact sample below k, merge monoid
  * (split ≡ single build, any split, any order), determinism, uniformity
  * smoke, and serialization validation (family conventions). */
class BottomKSpec extends AnyFunSuite {

  val k0 = 0x5eedf00ddeadbeefL
  val k1 = 0x0123456789abcdefL

  private def build(k: Int, elems: Iterable[Long]): (Array[Long], Array[Long], Int) = {
    val (h, v) = BottomK.emptyBuffers(k)
    var s = 0
    elems.foreach(e => s = BottomK.add(h, v, s, SipHash.hashLong(k0, k1, e), e))
    (h, v, s)
  }

  test("below capacity the sample IS the distinct set; duplicates never grow it") {
    val (h, v, s) = build(64, (1L to 40L) ++ (1L to 40L))
    assert(s === 40)
    assert(v.take(s).sorted.toSeq === (1L to 40L))
    // hashes strictly ascending, values aligned with their hashes
    (0 until s).foreach { i =>
      assert(h(i) === SipHash.hashLong(k0, k1, v(i)), s"hash/value misaligned at $i")
      if (i > 0) assert(java.lang.Long.compareUnsigned(h(i - 1), h(i)) < 0)
    }
  }

  test("split-then-merge equals single build, any split point and order") {
    val elems = (1L to 5000L).map(i => i * 37L % 4999L)
    val (dh, dv, ds) = build(128, elems)
    for (split <- Seq(1, 500, 2500, 4999)) {
      val (ah, av, as) = build(128, elems.take(split))
      val (bh, bv, bs) = build(128, elems.drop(split))
      val (mh, mv, ms) = BottomK.merge(ah, av, as, bh, bv, bs)
      assert(ms === ds, s"split $split size")
      assert(mh.take(ms).sameElements(dh.take(ds)), s"split $split hashes")
      assert(mv.take(ms).sameElements(dv.take(ds)), s"split $split values")
      // commutativity
      val (mh2, mv2, ms2) = BottomK.merge(bh, bv, bs, ah, av, as)
      assert(ms2 === ms && mh2.take(ms).sameElements(mh.take(ms)) &&
        mv2.take(ms).sameElements(mv.take(ms)))
    }
  }

  test("cross-capacity merge folds down to the smaller k") {
    val (ah, av, as) = build(256, 1L to 1000L)
    val (bh, bv, bs) = build(64, 500L to 1500L)
    val (mh, mv, ms) = BottomK.merge(ah, av, as, bh, bv, bs)
    assert(mh.length === 64 && ms === 64)
    // the folded sample equals a direct k=64 build over the union
    val (dh, dv, ds) = build(64, (1L to 1000L) ++ (500L to 1500L))
    assert(ms === ds && mh.take(ms).sameElements(dh.take(ds)) &&
      mv.take(ms).sameElements(dv.take(ds)))
  }

  test("uniformity smoke: sampled values' mean is near the population mean") {
    val n = 100000L
    val k = 2048
    val (_, v, s) = build(k, 1L to n)
    assert(s === k)
    val mean = v.take(s).map(_.toDouble).sum / s
    // population mean (n+1)/2 = 50000.5; sigma of the sample mean ≈
    // (n/sqrt(12)) / sqrt(k) ≈ 638 — allow 5 sigma
    assert(math.abs(mean - (n + 1) / 2.0) <= 5 * (n / math.sqrt(12.0)) / math.sqrt(k.toDouble),
      s"sample mean $mean suspiciously far from ${(n + 1) / 2.0}")
  }

  test("string-valued sample: shared algorithm, string layout roundtrips, cross-layout rejected") {
    def buildS(k: Int, elems: Iterable[String]): (Array[Long], Array[Array[Byte]], Int) = {
      val (h, _) = BottomK.emptyBuffers(k)
      val v = new Array[Array[Byte]](k)
      var s = 0
      elems.foreach { e =>
        val b = e.getBytes("UTF-8")
        s = BottomK.add(h, v, s, SipHash.hash64(k0, k1, b), b)
      }
      (h, v, s)
    }
    val elems = (1 to 300).map(i => s"doc-$i")
    val (h, v, s) = buildS(16, elems ++ elems) // duplicates never grow it
    assert(s === 16)
    (0 until s).foreach(i => assert(h(i) === SipHash.hash64(k0, k1, v(i))))
    // split-merge == single build (the generic merge path)
    val (ah, av, as) = buildS(16, elems.take(100))
    val (bh, bv, bs) = buildS(16, elems.drop(100))
    val (mh, mv, ms) = BottomK.merge(ah, av, as, bh, bv, bs)
    assert(ms === s && mh.take(ms).sameElements(h.take(s)))
    (0 until ms).foreach(i => assert(mv(i).sameElements(v(i))))
    // string layout roundtrip, byte-deterministic
    val bytes = BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.String, 0xabcL, SerialVersion, StringValues)
    val (h2, v2, s2, _, keyHash) = BottomK.fromBytes(bytes, SerialVersion, StringValues)
    assert(s2 === s && keyHash === 0xabcL && h2.take(s).sameElements(h.take(s)))
    (0 until s).foreach(i => assert(v2(i).sameElements(v(i))))
    assert(BottomK.toBytes(h2, v2, s2, BlockedBloom.TypeTag.String, keyHash, SerialVersion, StringValues)
      .sameElements(bytes))
    // each decoder refuses the other layout's tag
    intercept[IllegalArgumentException](BottomK.fromBytes(bytes, SerialVersion, LongValues))
    val (lh, lv, ls) = build(16, 1L to 100L)
    val longBytes = BottomK.toBytes(lh, lv, ls, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersion, LongValues)
    intercept[IllegalArgumentException](BottomK.fromBytes(longBytes, SerialVersion, StringValues))
    // truncated string payload rejected
    intercept[IllegalArgumentException](
      BottomK.fromBytes(bytes.take(bytes.length - 3), SerialVersion, StringValues))
  }

  test("serialization roundtrips; corrupt headers and unsorted payloads rejected") {
    val (h, v, s) = build(64, 1L to 200L)
    val bytes = BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersion, LongValues)
    val (h2, v2, s2, tag, keyHash) = BottomK.fromBytes(bytes, SerialVersion, LongValues)
    assert(s2 === s && tag === BlockedBloom.TypeTag.Long && keyHash === 0xabcL)
    assert(h2.take(s).sameElements(h.take(s)) && v2.take(s).sameElements(v.take(s)))
    assert(BottomK.toBytes(h2, v2, s2, tag, keyHash, SerialVersion, LongValues).sameElements(bytes))
    intercept[IllegalArgumentException](
      BottomK.fromBytes(bytes.take(bytes.length - 1), SerialVersion, LongValues))
    intercept[IllegalArgumentException](BottomK.fromBytes(bytes.take(16), SerialVersion, LongValues))
    def withHeader(field: Int, x: Long): Array[Byte] = {
      val b = bytes.clone()
      java.nio.ByteBuffer.wrap(b).putLong(field * 8, x)
      b
    }
    def decode(b: Array[Byte]) = BottomK.fromBytes(b, SerialVersion, LongValues)
    intercept[IllegalArgumentException](decode(withHeader(0, 99L))) // version
    intercept[IllegalArgumentException](decode(withHeader(3, (1L << 32) + 64L))) // k
    intercept[IllegalArgumentException](decode(withHeader(4, -1L))) // size
    // swap two hashes -> ascending-order invariant violated
    val bad = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(bad)
    val a0 = bb.getLong(40); val a1 = bb.getLong(48)
    bb.putLong(40, a1); bb.putLong(48, a0)
    intercept[IllegalArgumentException](BottomK.fromBytes(bad, SerialVersion, LongValues))
  }

  // ------------------------------------------ ES-weighted sample (v2)

  private def buildWeighted(k: Int, elems: Iterable[(Long, Double)],
      kk0: Long = k0): (Array[Long], Array[Long], Int) = {
    val (h, v) = BottomK.emptyBuffers(k)
    var s = 0
    elems.foreach { case (x, w) =>
      s = BottomK.add(h, v, s, BottomK.esKey(SipHash.hashLong(kk0, k1, x), w), x,
        BottomK.cmpLong)
    }
    (h, v, s)
  }

  test("esKey: rejects non-positive weights; orders exactly like the exponential it encodes") {
    intercept[IllegalArgumentException](BottomK.esKey(1L, 0.0))
    intercept[IllegalArgumentException](BottomK.esKey(1L, -1.0))
    // bit trick: for arbitrary hashes/weights the long keys order exactly
    // like the -ln(u)/w doubles they encode (non-negative IEEE ordering)
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val (h1, h2) = (rnd.nextLong(), rnd.nextLong())
      val (w1, w2) = (rnd.nextInt(50) + 1.0, rnd.nextInt(50) + 1.0)
      def exp(h: Long, w: Double) = -StrictMath.log(((h >>> 11) + 1).toDouble / 9007199254740992.0) / w
      val byBits = java.lang.Long.compare(BottomK.esKey(h1, w1), BottomK.esKey(h2, w2))
      val byVal = java.lang.Double.compare(exp(h1, w1), exp(h2, w2))
      assert(math.signum(byBits) === math.signum(byVal))
    }
  }

  test("weighted k=1 inclusion frequency tracks w/sum(w) across independent keys") {
    // item 0 carries weight 9 against nine weight-1 items: P(win) = 9/18
    val trials = 2000
    var hits = 0
    (0 until trials).foreach { t =>
      val kk0 = k0 + (t + 1) * 0x9e3779b97f4a7c15L
      val (_, v, s) = buildWeighted(1,
        (0L to 9L).map(x => (x, if (x == 0L) 9.0 else 1.0)), kk0)
      assert(s === 1)
      if (v(0) == 0L) hits += 1
    }
    // Binomial(2000, 0.5): 5 sigma = 112
    assert(math.abs(hits - 1000) < 120, s"heavy-item wins $hits/2000, expected ~1000")
  }

  test("weighted layout (v2) round-trips and refuses to cross-decode with uniform (v1)") {
    val (h, v, s) = buildWeighted(16, (1L to 100L).map(x => (x, (x % 7 + 1).toDouble)))
    val bytes = BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersionWeighted, LongValues)
    val (h2, v2, s2, tag, keyHash) = BottomK.fromBytes(bytes, SerialVersionWeighted, LongValues)
    assert(s2 === s && tag === BlockedBloom.TypeTag.Long && keyHash === 0xabcL)
    assert(h2.take(s).sameElements(h.take(s)) && v2.take(s).sameElements(v.take(s)))
    assert(BottomK.toBytes(h2, v2, s2, tag, keyHash, SerialVersionWeighted, LongValues).sameElements(bytes))
    // cross-version decodes fail loudly in BOTH directions, naming the mix
    val e1 = intercept[IllegalArgumentException](BottomK.fromBytes(bytes, SerialVersion, LongValues))
    assert(e1.getMessage.contains("weighted"))
    val (uh, uv, us) = build(16, 1L to 100L)
    val uniformBytes =
      BottomK.toBytes(uh, uv, us, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersion, LongValues)
    intercept[IllegalArgumentException](BottomK.fromBytes(uniformBytes, SerialVersionWeighted, LongValues))
  }

  test("weighted STRING layout round-trips and refuses uniform string payloads") {
    val elems = (1 to 60).map(i => (s"doc$i", (i % 5 + 1).toDouble))
    val h = new Array[Long](8)
    val v = new Array[Array[Byte]](8)
    var s = 0
    elems.foreach { case (x, w) =>
      val bytes = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      s = BottomK.add(h, v, s, BottomK.esKey(SipHash.hash64(k0, k1, bytes), w), bytes,
        BottomK.cmpUtf8)
    }
    val bytes =
      BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.String, 0xabcL, SerialVersionWeighted, StringValues)
    val (h2, v2, s2, _, keyHash) = BottomK.fromBytes(bytes, SerialVersionWeighted, StringValues)
    assert(s2 === s && keyHash === 0xabcL && h2.take(s).sameElements(h.take(s)))
    (0 until s).foreach(i => assert(v2(i).sameElements(v(i))))
    // version and layout cross-decodes all fail loudly
    intercept[IllegalArgumentException](BottomK.fromBytes(bytes, SerialVersion, StringValues)) // v2 as v1
    intercept[IllegalArgumentException](
      BottomK.fromBytes(bytes, SerialVersionWeighted, LongValues)) // string as long
    val uniformStr =
      BottomK.toBytes(h2, v2, s2, BlockedBloom.TypeTag.String, 0xabcL, SerialVersion, StringValues)
    intercept[IllegalArgumentException](
      BottomK.fromBytes(uniformStr, SerialVersionWeighted, StringValues)) // v1 as v2
  }

  test("weighted split + serialized merge equals single build, any split") {
    val elems = (1L to 500L).map(x => (x, (x % 13 + 1).toDouble))
    val (dh, dv, ds) = buildWeighted(32, elems)
    (1 to 7).foreach { parts =>
      val partials = elems.zipWithIndex.groupBy(_._2 % parts).values.map { chunk =>
        val (h, v, s) = buildWeighted(32, chunk.map(_._1))
        BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersionWeighted, LongValues)
      }
      val merged = partials.reduce { (a, b) =>
        val (ah, av, as, tag, kh) = BottomK.fromBytes(a, SerialVersionWeighted, LongValues)
        val (bh, bv, bs, _, _) = BottomK.fromBytes(b, SerialVersionWeighted, LongValues)
        val (mh, mv, ms) = BottomK.merge(ah, av, as, bh, bv, bs, BottomK.cmpLong)
        BottomK.toBytes(mh, mv, ms, tag, kh, SerialVersionWeighted, LongValues)
      }
      assert(merged.sameElements(
        BottomK.toBytes(dh, dv, ds, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersionWeighted, LongValues)),
        s"parts=$parts")
    }
  }

  test("weighted identity is the (key, value) PAIR: colliding ES keys keep BOTH elements") {
    // two distinct docs whose ES keys collide (same weight, same u bits)
    // must both survive — only the exact pair is a duplicate. At ~1e9
    // same-weight docs per group such 2^53-birthday collisions are
    // expected in double digits; dedup-by-key would silently shrink the
    // sample below min(k, n) and break the exact-topk gate.
    val (h, v) = BottomK.emptyBuffers(8)
    var s = 0
    val key = BottomK.esKey(0x1234abcdL << 11, 3.0)
    s = BottomK.add(h, v, s, key, 77L, BottomK.cmpLong)
    s = BottomK.add(h, v, s, key, 13L, BottomK.cmpLong) // collision, smaller value
    assert(s === 2)
    assert(h(0) === key && h(1) === key)
    assert(v(0) === 13L && v(1) === 77L) // value ascending within the run
    s = BottomK.add(h, v, s, key, 77L, BottomK.cmpLong) // exact pair dup
    assert(s === 2)
    // merge dedups exact pairs only, keeps the colliding distinct pair
    val (h2, v2) = BottomK.emptyBuffers(8)
    var s2 = 0
    s2 = BottomK.add(h2, v2, s2, key, 77L, BottomK.cmpLong)
    s2 = BottomK.add(h2, v2, s2, key, 99L, BottomK.cmpLong)
    val (mh, mv, ms) = BottomK.merge(h, v, s, h2, v2, s2, BottomK.cmpLong)
    assert(ms === 3)
    assert(mh.take(3).forall(_ == key) && mv.take(3).sameElements(Array(13L, 77L, 99L)))
    // saturation tie-break: at capacity, a pair >= the max pair is rejected,
    // a pair below it displaces the max
    val (h3, v3) = BottomK.emptyBuffers(2)
    var s3 = 0
    s3 = BottomK.add(h3, v3, s3, key, 20L, BottomK.cmpLong)
    s3 = BottomK.add(h3, v3, s3, key, 10L, BottomK.cmpLong)
    s3 = BottomK.add(h3, v3, s3, key, 30L, BottomK.cmpLong) // >= max pair: rejected
    assert(s3 === 2 && v3.take(2).sameElements(Array(10L, 20L)))
    s3 = BottomK.add(h3, v3, s3, key, 15L, BottomK.cmpLong) // displaces (key, 20)
    assert(s3 === 2 && v3.take(2).sameElements(Array(10L, 15L)))
  }

  test("weighted payload with COLLIDED keys round-trips through decode (both layouts)") {
    // The serialized twin of pair identity: a collided v2 buffer must
    // decode (keys non-decreasing, (key, value) pairs strictly ascending),
    // while a corrupted pair order must still fail loudly. Regression for
    // the round-5 ADVICE high: readHashes demanded strictly-ascending keys
    // for BOTH versions, so the merge aggs crashed exactly when an ES-key
    // collision occurred at target scale.
    val key = BottomK.esKey(0x1234abcdL << 11, 3.0)
    val (h, v) = BottomK.emptyBuffers(8)
    var s = 0
    Seq(77L, 13L, 99L).foreach(x => s = BottomK.add(h, v, s, key, x, BottomK.cmpLong))
    val bytes = BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, 0xabcL, SerialVersionWeighted, LongValues)
    val (h2, v2, s2, tag, kh) = BottomK.fromBytes(bytes, SerialVersionWeighted, LongValues)
    assert(s2 === 3 && tag === BlockedBloom.TypeTag.Long && kh === 0xabcL)
    assert(h2.take(s).sameElements(h.take(s)) && v2.take(s).sameElements(v.take(s)))
    assert(BottomK.toBytes(h2, v2, s2, tag, kh, SerialVersionWeighted, LongValues).sameElements(bytes))
    // corrupt: swap the values of the first two collided entries so the
    // equal-key run's values DESCEND -> pair-ascending validation rejects
    val bad = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(bad)
    val vOff = 40 + 8 * s
    val x0 = bb.getLong(vOff); val x1 = bb.getLong(vOff + 8)
    bb.putLong(vOff, x1); bb.putLong(vOff + 8, x0)
    val e = intercept[IllegalArgumentException](BottomK.fromBytes(bad, SerialVersionWeighted, LongValues))
    assert(e.getMessage.contains("pairs not strictly ascending"))
    // exact duplicated PAIR in the payload is likewise rejected
    val dup = bytes.clone()
    val db = java.nio.ByteBuffer.wrap(dup)
    db.putLong(vOff + 8, db.getLong(vOff))
    intercept[IllegalArgumentException](BottomK.fromBytes(dup, SerialVersionWeighted, LongValues))
    // string layout: same collided-key round-trip
    def b(x: String) = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sh = new Array[Long](8)
    val sv = new Array[Array[Byte]](8)
    var ss = 0
    Seq("mango", "apple", "pear").foreach(x =>
      ss = BottomK.add(sh, sv, ss, key, b(x), BottomK.cmpUtf8))
    val sBytes =
      BottomK.toBytes(sh, sv, ss, BlockedBloom.TypeTag.String, 0xabcL, SerialVersionWeighted, StringValues)
    val (sh2, sv2, ss2, _, skh) = BottomK.fromBytes(sBytes, SerialVersionWeighted, StringValues)
    assert(ss2 === 3 && skh === 0xabcL && sh2.take(3).forall(_ == key))
    assert(sv2.take(3).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).toSeq
      === Seq("apple", "mango", "pear"))
    // and the serialized second-level merge path accepts collided payloads
    val (mh, mv, ms) = BottomK.merge(h2, v2, s2, h2, v2, s2, BottomK.cmpLong)
    assert(ms === s2 && mh.take(ms).sameElements(h2.take(s2)))
  }

  test("cmpUtf8 orders by UTF-8 bytes (Spark UTF8_BINARY), not UTF-16 code units") {
    def b(x: String) = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(BottomK.cmpUtf8(b("a"), b("b")) < 0)
    assert(BottomK.cmpUtf8(b("a"), b("a")) === 0)
    assert(BottomK.cmpUtf8(b("ab"), b("a")) > 0)
    // U+FFFD (BMP, 3-byte UTF-8) vs U+10000 (supplementary, 4-byte):
    // UTF-8 byte order puts the supplementary char HIGHER, while Java's
    // String.compareTo would compare the surrogate 0xD800 < 0xFFFD
    assert(BottomK.cmpUtf8(b("\uFFFD"), b("\uD800\uDC00")) < 0)
    assert("\uFFFD".compareTo("\uD800\uDC00") > 0) // the divergence being avoided
  }
}
