package graft.tools
import graft.core._
/** One-time generator for the golden serialized-sketch files
  * (src/test/resources/serialized), mirroring the reference's
  * tests/serialized bytestring fixtures. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get("src/test/resources/serialized")
    java.nio.file.Files.createDirectories(outDir)
    val k0 = Keys.DefaultK0; val k1 = Keys.DefaultK1
    // (k, log2l) grid from FIXTURES.md §2, payload = [1 .. 2*dataBytes]
    for ((k, log2l) <- Seq((1, 0), (2, 1), (3, 2), (3, 7), (4, 10))) {
      val cfg = BloomConfig(k0, k1, k, log2l)
      val words = new Array[Long](cfg.l)
      (1 to 2 * cfg.sizeBytes).foreach(BlockedBloom.insertInt(words, cfg, _))
      val bytes = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
      java.nio.file.Files.write(outDir.resolve(s"bloom_${k}_$log2l.bin"), bytes)
    }
    val hll = Hll.empty(10)
    (1 to 5000).foreach(i => Hll.addHash(hll, 10, SipHash.hashInt(k0, k1, i)))
    java.nio.file.Files.write(outDir.resolve("hll_10.bin"),
      Hll.toBytes(hll, 10, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1)))
    val cms = CmsConfig(k0, k1, 4, 8)
    val buf = CountMin.empty(cms)
    (1 to 3000).foreach(i => CountMin.addInt(buf, cms, i % 100))
    java.nio.file.Files.write(outDir.resolve("cms_4_8.bin"),
      CountMin.toBytes(buf, cms, BlockedBloom.TypeTag.Int))
    // Misra-Gries: fixed serial insertion order -> deterministic content;
    // serialization sorts entries by key -> byte-deterministic
    val hh = new FrequentItems.Summary(16)
    (0 until 12000).foreach(i => hh.add(if (i % 2 == 0) (i / 2) % 8 else 100L + i % 3000))
    java.nio.file.Files.write(outDir.resolve("freqitems_16.bin"), FrequentItems.toBytes(hh))
    // KMV bottom-k: fixed key + payload -> deterministic retained hashes
    val kmv = Kmv.emptyHashes(64)
    var kmvSize = 0
    (1 to 5000).foreach(i => kmvSize = Kmv.add(kmv, kmvSize, SipHash.hashInt(k0, k1, i)))
    java.nio.file.Files.write(outDir.resolve("kmv_64.bin"),
      Kmv.toBytes(kmv, kmvSize, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1)))
    // KLL and t-digest: the values 1..5000 in a fixed permuted order (7919
    // is coprime to 5000); insertion order steers compaction, so it is fixed
    val quantilePayload = (0 until 5000).map(i => 1.0 + (i * 7919) % 5000)
    val kll = new KllSketch(64)
    quantilePayload.foreach(kll.add)
    java.nio.file.Files.write(outDir.resolve("kll_64.bin"), kll.toBytes)
    val td = new TDigest(100)
    quantilePayload.foreach(td.add(_))
    java.nio.file.Files.write(outDir.resolve("tdigest_100.bin"), td.toBytes)
    // bottom-k string (uniform, version 1), ES-weighted long and
    // ES-weighted string (version 2): values 1..5000 / "doc-1".."doc-5000",
    // weight 1 + i % 7
    val keyHash = SipHash.hashLong(k0, k1, k0 ^ k1)
    val strings = (1 to 5000).map(i => s"doc-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def sample[V](vt: BottomK.ValueType[V], xs: Seq[V], key: Int => Long, weighted: Boolean,
        typeTag: Long): Array[Byte] = {
      val h = BottomK.emptyBuffers(32)._1
      val v = vt.newArray(32)
      var s = 0
      xs.indices.foreach { i =>
        s = if (weighted) BottomK.add(h, v, s, BottomK.esKey(key(i), (1 + (i + 1) % 7).toDouble), xs(i), vt.cmp)
          else BottomK.add(h, v, s, key(i), xs(i))
      }
      BottomK.toBytes(h, v, s, typeTag, keyHash,
        if (weighted) BottomK.SerialVersionWeighted else BottomK.SerialVersion, vt)
    }
    val stringKey = (i: Int) => SipHash.hash64(k0, k1, strings(i))
    java.nio.file.Files.write(outDir.resolve("bottomk_str_32.bin"),
      sample(BottomK.StringValues, strings, stringKey, weighted = false, BlockedBloom.TypeTag.String))
    java.nio.file.Files.write(outDir.resolve("bottomk_weighted_32.bin"),
      sample(BottomK.LongValues, (1L to 5000L), i => SipHash.hashLong(k0, k1, i + 1L), weighted = true,
        BlockedBloom.TypeTag.Long))
    java.nio.file.Files.write(outDir.resolve("bottomk_weighted_str_32.bin"),
      sample(BottomK.StringValues, strings, stringKey, weighted = true, BlockedBloom.TypeTag.String))
    // keyed filter pack: two int filters of different configs (1..2*dataBytes
    // and its negation) and an empty entry under the empty key
    val packed = Seq((3, 2), (2, 1)).map { case (k, log2l) =>
      val cfg = BloomConfig(k0, k1, k, log2l)
      val words = new Array[Long](cfg.l)
      (1 to 2 * cfg.sizeBytes).foreach(i => BlockedBloom.insertInt(words, cfg, -i * k))
      s"bloom_${k}_$log2l" -> BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
    } :+ ("" -> Array.emptyByteArray)
    java.nio.file.Files.write(outDir.resolve("bloom_pack.bin"), graft.plans.BloomFilterPack.encode(packed))
    println("golden files written")
  }
}
