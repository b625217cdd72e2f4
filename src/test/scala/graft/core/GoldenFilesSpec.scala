package graft.core

import org.scalatest.funsuite.AnyFunSuite

import BottomK.{LongValues, SerialVersion, SerialVersionWeighted, StringValues}

/** Golden serialized-sketch files (the analogue of the reference's
  * tests/serialized fixtures, `tests/Main.hs:433-459`): committed
  * bytes must equal a fresh build forever — any drift in hashing, bit
  * layout, or the serialization format is a breaking change that must be
  * caught here, not by a reader of old checkpoints. */
class GoldenFilesSpec extends AnyFunSuite {

  val k0 = Keys.DefaultK0
  val k1 = Keys.DefaultK1

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/serialized/$name")
    assert(in != null, s"missing golden file $name")
    try in.readAllBytes() finally in.close()
  }

  test("bloom golden files: byte-identical rebuild, deserialize, probe") {
    for ((k, log2l) <- Seq((1, 0), (2, 1), (3, 2), (3, 7), (4, 10))) {
      val cfg = BloomConfig(k0, k1, k, log2l)
      val words = new Array[Long](cfg.l)
      (1 to 2 * cfg.sizeBytes).foreach(BlockedBloom.insertInt(words, cfg, _))
      val fresh = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
      val stored = golden(s"bloom_${k}_$log2l.bin")
      assert(java.util.Arrays.equals(fresh, stored),
        s"golden drift at (k=$k, log2l=$log2l) — serialization or hash layout changed")
      val (cfg2, w2, tag) = BlockedBloom.fromBytes(k0, k1, stored)
      assert(cfg2 === cfg && tag === BlockedBloom.TypeTag.Int)
      (1 to 2 * cfg.sizeBytes).foreach(e =>
        assert(BlockedBloom.containsInt(w2, cfg2, e), s"golden filter lost element $e"))
    }
  }

  test("hll golden file: byte-identical rebuild and stable estimate") {
    val regs = Hll.empty(10)
    (1 to 5000).foreach(i => Hll.addHash(regs, 10, SipHash.hashInt(k0, k1, i)))
    val fresh = Hll.toBytes(regs, 10, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1))
    val stored = golden("hll_10.bin")
    assert(java.util.Arrays.equals(fresh, stored), "HLL golden drift")
    val est = Hll.estimate(Hll.fromBytes(stored)._2)
    assert(math.abs(est - 5000) <= 4 * Hll.stdError(10) * 5000)
  }

  test("frequent-items golden file: byte-identical rebuild, guarantees hold") {
    val hh = new FrequentItems.Summary(16)
    (0 until 12000).foreach(i => hh.add(if (i % 2 == 0) (i / 2) % 8 else 100L + i % 3000))
    val fresh = FrequentItems.toBytes(hh)
    val stored = golden("freqitems_16.bin")
    assert(java.util.Arrays.equals(fresh, stored), "FrequentItems golden drift")
    val back = FrequentItems.fromBytes(stored)
    assert(back.total === 12000L)
    assert(back.decremented * back.capacity <= back.total)
    // the 8 planted heavies (each 750 occurrences > D <= 375) must all be present
    (0L until 8L).foreach(k => assert(back.contains(k), s"planted heavy $k missing"))
  }

  test("bottomk golden file: byte-identical rebuild, sample stable forever") {
    val (h, v) = BottomK.emptyBuffers(32)
    var s = 0
    (1L to 5000L).foreach(x => s = BottomK.add(h, v, s, SipHash.hashLong(k0, k1, x), x))
    val fresh = BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, SipHash.hashLong(k0, k1, k0 ^ k1),
      SerialVersion, LongValues)
    val stored = golden("bottomk_32.bin")
    assert(java.util.Arrays.equals(fresh, stored), "BottomK golden drift")
    // determinism-across-versions is the operator's whole point: the
    // committed sample must decode to the same 32 values forever
    val (h2, v2, s2, tag, _) = BottomK.fromBytes(stored, SerialVersion, LongValues)
    assert(tag === BlockedBloom.TypeTag.Long && s2 === 32)
    assert(v2.take(s2).forall(x => x >= 1L && x <= 5000L))
    (0 until s2).foreach(i => assert(h2(i) === SipHash.hashLong(k0, k1, v2(i))))
  }

  test("kmv golden file: byte-identical rebuild, estimator inside bound") {
    val h = Kmv.emptyHashes(64)
    var s = 0
    (1 to 5000).foreach(i => s = Kmv.add(h, s, SipHash.hashInt(k0, k1, i)))
    val fresh = Kmv.toBytes(h, s, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1))
    val stored = golden("kmv_64.bin")
    assert(java.util.Arrays.equals(fresh, stored), "KMV golden drift")
    val (h2, s2, tag, _) = Kmv.fromBytes(stored)
    assert(tag === BlockedBloom.TypeTag.Int && s2 === 64)
    assert(math.abs(Kmv.estimate(h2, s2) - 5000) <= 4 * Kmv.stdError(64) * 5000)
  }

  /** GoldenGen's KLL / t-digest payload: 1..5000 in a fixed permuted order. */
  private val quantilePayload = (0 until 5000).map(i => 1.0 + (i * 7919) % 5000)

  test("kll golden file: byte-identical rebuild, quantiles within the published rank error") {
    val sk = new KllSketch(64)
    quantilePayload.foreach(sk.add)
    val stored = golden("kll_64.bin")
    assert(java.util.Arrays.equals(sk.toBytes, stored), "KLL golden drift")
    val back = Kll.fromBytes(stored)
    assert(back.n === 5000L)
    val eps = Kll.normalizedRankError(64)
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val rankErr = math.abs(back.quantile(q) / 5000 - q) // the data is 1..n: rank(x) = x / n
      assert(rankErr <= eps, s"golden KLL q=$q rank error $rankErr > $eps")
    }
  }

  test("t-digest golden file: byte-identical rebuild, quantiles inside the envelope") {
    val d = new TDigest(100)
    quantilePayload.foreach(d.add(_))
    val stored = golden("tdigest_100.bin")
    assert(java.util.Arrays.equals(d.toBytes, stored), "t-digest golden drift")
    val back = TDigest.fromBytes(stored)
    assert(back.n === 5000.0 && back.quantile(0.0) === 1.0 && back.quantile(1.0) === 5000.0)
    for (q <- Seq(0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999)) {
      // k1 scale function: rank error O(1/delta) at the median, tighter at the tails
      val bound = if (q <= 0.01 || q >= 0.99) 0.005 else 0.03
      val rankErr = math.abs(back.quantile(q) / 5000 - q)
      assert(rankErr <= bound, s"golden t-digest q=$q rank error $rankErr > $bound")
    }
  }

  test("cms golden file: byte-identical rebuild and exact point estimates") {
    val cms = CmsConfig(k0, k1, 4, 8)
    val buf = CountMin.empty(cms)
    (1 to 3000).foreach(i => CountMin.addInt(buf, cms, i % 100))
    val fresh = CountMin.toBytes(buf, cms, BlockedBloom.TypeTag.Int)
    val stored = golden("cms_4_8.bin")
    assert(java.util.Arrays.equals(fresh, stored), "CMS golden drift")
    val (_, _, buf2, _) = CountMin.fromBytes(stored)
    assert(CountMin.totalCount(buf2, cms) === 3000L)
    assert(CountMin.estimateInt(buf2, cms, 5) >= 30L)
  }

  private val keyHash = SipHash.hashLong(k0, k1, k0 ^ k1)
  private def utf8(i: Int): Array[Byte] = s"doc-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("bottomk string golden file: byte-identical rebuild; the weighted reader rejects it") {
    val (h, _) = BottomK.emptyBuffers(32)
    val v = new Array[Array[Byte]](32)
    var s = 0
    (1 to 5000).foreach { i => val b = utf8(i); s = BottomK.add(h, v, s, SipHash.hash64(k0, k1, b), b) }
    val stored = golden("bottomk_str_32.bin")
    assert(java.util.Arrays.equals(
      BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.String, keyHash, SerialVersion, StringValues), stored),
      "string BottomK golden drift")
    val (h2, v2, s2, _, kh) = BottomK.fromBytes(stored, SerialVersion, StringValues)
    assert(s2 === 32 && kh === keyHash)
    (0 until s2).foreach(i => assert(h2(i) === SipHash.hash64(k0, k1, v2(i))))
    val e = intercept[IllegalArgumentException](
      BottomK.fromBytes(stored, SerialVersionWeighted, StringValues))
    assert(e.getMessage.contains("must not mix"))
  }

  test("bottomk weighted golden file: byte-identical rebuild; the uniform reader rejects it") {
    val (h, v) = BottomK.emptyBuffers(32)
    var s = 0
    (1L to 5000L).foreach(x => s = BottomK.add(h, v, s,
      BottomK.esKey(SipHash.hashLong(k0, k1, x), (1 + x % 7).toDouble), x, BottomK.cmpLong))
    val stored = golden("bottomk_weighted_32.bin")
    assert(java.util.Arrays.equals(
      BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, keyHash, SerialVersionWeighted, LongValues), stored),
      "weighted BottomK golden drift")
    val (h2, v2, s2, tag, _) = BottomK.fromBytes(stored, SerialVersionWeighted, LongValues)
    assert(tag === BlockedBloom.TypeTag.Long && s2 === 32)
    (0 until s2).foreach(i => assert(h2(i) ===
      BottomK.esKey(SipHash.hashLong(k0, k1, v2(i)), (1 + v2(i) % 7).toDouble)))
    val e = intercept[IllegalArgumentException](BottomK.fromBytes(stored, SerialVersion, LongValues))
    assert(e.getMessage.contains("must not mix"))
  }

  test("bottomk weighted string golden file: byte-identical rebuild; the uniform reader rejects it") {
    val (h, _) = BottomK.emptyBuffers(32)
    val v = new Array[Array[Byte]](32)
    var s = 0
    (1 to 5000).foreach { i =>
      val b = utf8(i)
      s = BottomK.add(h, v, s, BottomK.esKey(SipHash.hash64(k0, k1, b), (1 + i % 7).toDouble), b, BottomK.cmpUtf8)
    }
    val stored = golden("bottomk_weighted_str_32.bin")
    assert(java.util.Arrays.equals(
      BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.String, keyHash, SerialVersionWeighted, StringValues), stored),
      "weighted string BottomK golden drift")
    val (_, v2, s2, _, kh) = BottomK.fromBytes(stored, SerialVersionWeighted, StringValues)
    assert(s2 === 32 && kh === keyHash)
    assert(v2.take(s2).forall(b => new String(b, "UTF-8").startsWith("doc-")))
    val e = intercept[IllegalArgumentException](BottomK.fromBytes(stored, SerialVersion, StringValues))
    assert(e.getMessage.contains("must not mix"))
  }

  test("keyed filter pack golden file: byte-identical rebuild, decode, keyed probe") {
    val filters = Seq((3, 2), (2, 1)).map { case (k, log2l) =>
      val cfg = BloomConfig(k0, k1, k, log2l)
      val words = new Array[Long](cfg.l)
      (1 to 2 * cfg.sizeBytes).foreach(i => BlockedBloom.insertInt(words, cfg, -i * k))
      s"bloom_${k}_$log2l" -> (cfg, BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int))
    }
    val stored = golden("bloom_pack.bin")
    val fresh = graft.plans.BloomFilterPack.encode(filters.map { case (key, (_, b)) => key -> b } :+
      ("" -> Array.emptyByteArray))
    assert(java.util.Arrays.equals(fresh, stored), "filter pack golden drift")
    val entries = graft.plans.BloomFilterPack.decode(stored)
    assert(entries.map(_._1) === Seq("bloom_3_2", "bloom_2_1", "") && entries.last._2.isEmpty)
    val pack = graft.plans.LoadedBloomPack.load(k0, k1, stored, BlockedBloom.TypeTag.Int)
    val key = org.apache.spark.unsafe.types.UTF8String.fromString _
    filters.foreach { case (name, (cfg, _)) =>
      val k = cfg.k
      (1 to 2 * cfg.sizeBytes).foreach(i => assert(pack.probeInt(key(name), -i * k) === true))
    }
    assert(pack.probeInt(key(""), 1) === null && pack.probeInt(key("absent"), 1) === null)
  }
}
