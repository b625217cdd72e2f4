package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.core.BottomK.{LongValues, StringValues}
import graft.operators.SketchKinds._

/** One decoder property over every sketch kind: each kind's validated
  * `fromBytes`, fed its golden files and a freshly built sketch mutated
  * three ways (truncated at every length; every bit of the leading and
  * trailing 64 bytes flipped, plus a sample of payload flips; every
  * aligned 4- and 8-byte field there set to Int.MaxValue, Long.MaxValue or
  * a negative value), either decodes or throws `IllegalArgumentException`.
  * Nothing else may escape: no `BufferUnderflowException`,
  * `ArrayIndexOutOfBoundsException`, `NegativeArraySizeException` or
  * out-of-memory allocation. The keyed filter pack, decoded and loaded
  * the way `graft_bloom_might_contain_keyed` loads its literal, is held to
  * the same property. */
class SketchKindDecoderSpec extends AnyFunSuite {

  private val (k0, k1) = (Keys.DefaultK0, Keys.DefaultK1)

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/serialized/$name")
    assert(in != null, s"missing golden file $name")
    try in.readAllBytes() finally in.close()
  }

  private def tokens(xs: Int*): ArrayData = ArrayData.toArrayData(xs.toArray)

  /** `kind` built over `rows` (Catalyst values) with weight `w`. */
  private def built[B <: AnyRef](kind: SketchKind[B], in: SketchInput, rows: Seq[Any],
      w: Long = 1L): Array[Byte] = {
    var b = kind.empty(in)
    rows.zipWithIndex.foreach { case (v, i) => b = kind.update(b, in, v, w + i % 3) }
    kind.toBytes(b)
  }

  private val longs: Seq[Any] = (1L to 300L).map(i => (i * 7919L) % 211L)
  private val doubles: Seq[Any] = (1 to 300).map(i => ((i * 7919) % 211) * 0.5)
  private val strings: Seq[Any] = (1 to 300).map(i => UTF8String.fromString(s"doc-${i % 97}"))

  /** (label, kind, serialized inputs): goldens plus a built sketch. The
    * build-only kinds' forms never leave the shuffle, so they have no
    * golden files: the fused build is fed one sparse and one dense buffer
    * (its tiny config densifies past 102 ids). */
  private val cases: Seq[(String, SketchKind[_ <: AnyRef], Seq[Array[Byte]])] = {
    val bloomCfg = BloomConfig(k0, k1, 3, 6)
    val fused = FusedTokens(BloomConfig(k0, k1, 3, 4), 4, CmsConfig(k0, k1, 2, 4))
    Seq(
      ("bloom", Bloom(bloomCfg),
        Seq("bloom_1_0", "bloom_2_1", "bloom_3_2", "bloom_3_7", "bloom_4_10").map(n => golden(s"$n.bin")) :+
          built(Bloom(bloomCfg), SketchInput.Tokens, (1 to 50).map(i => tokens(i, i * 3)))),
      ("bloom new-count", BloomNewCount(bloomCfg),
        Seq(built(BloomNewCount(bloomCfg), SketchInput.Tokens, (1 to 50).map(i => tokens(i, i + 1))))),
      ("fused tokens", fused,
        Seq(built(fused, SketchInput.Tokens, (1 to 20).map(i => tokens(i, i * 5))),
          built(fused, SketchInput.Tokens, (1 to 60).map(i => tokens(i, i * 5, i % 7))))),
      ("hll", HllKind(k0, k1, 10),
        Seq(golden("hll_10.bin"), built(HllKind(k0, k1, 10), SketchInput.Longs, longs.take(20)))),
      ("cms", Cms(CmsConfig(k0, k1, 4, 8)),
        Seq(golden("cms_4_8.bin"),
          built(Cms(CmsConfig(k0, k1, 2, 4)), SketchInput.Tokens, (1 to 40).map(i => tokens(i % 9))))),
      ("kmv", KmvKind(k0, k1, 64),
        Seq(golden("kmv_64.bin"), built(KmvKind(k0, k1, 16), SketchInput.Strings, strings))),
      ("kll", KllKind(64),
        Seq(golden("kll_64.bin"), built(KllKind(8), SketchInput.Doubles, doubles))),
      ("t-digest", TDigestKind(100),
        Seq(golden("tdigest_100.bin"), built(TDigestKind(20), SketchInput.Doubles, doubles))),
      ("heavy hitters", HeavyHitters(16),
        Seq(golden("freqitems_16.bin"), built(HeavyHitters(8), SketchInput.Longs, longs))),
      ("uniform sample", Sample(k0, k1, 32, weighted = false, LongValues),
        Seq(golden("bottomk_32.bin"),
          built(Sample(k0, k1, 8, weighted = false, LongValues), SketchInput.Longs, longs))),
      ("weighted sample", Sample(k0, k1, 32, weighted = true, LongValues),
        Seq(golden("bottomk_weighted_32.bin"),
          built(Sample(k0, k1, 8, weighted = true, LongValues), SketchInput.Longs, longs))),
      ("uniform string sample", Sample(k0, k1, 32, weighted = false, StringValues),
        Seq(golden("bottomk_str_32.bin"),
          built(Sample(k0, k1, 8, weighted = false, StringValues), SketchInput.Strings, strings))),
      ("weighted string sample", Sample(k0, k1, 32, weighted = true, StringValues),
        Seq(golden("bottomk_weighted_str_32.bin"),
          built(Sample(k0, k1, 8, weighted = true, StringValues), SketchInput.Strings, strings))))
  }

  /** The three mutation families over `x`, labelled. */
  private def mutations(x: Array[Byte]): Iterator[(String, Array[Byte])] = {
    val n = x.length
    val edges = ((0 until math.min(64, n)) ++ (math.max(0, n - 64) until n)).distinct
    val truncated = (0 until n).iterator.map(l => s"truncated to $l bytes" -> java.util.Arrays.copyOf(x, l))
    val rnd = new scala.util.Random(n)
    val bits = edges.flatMap(i => (0 until 8).map(b => (i, b))) ++
      Seq.fill(math.min(256, 8 * n))((rnd.nextInt(n), rnd.nextInt(8)))
    val flipped = bits.iterator.map { case (i, b) =>
      val y = x.clone()
      y(i) = (y(i) ^ (1 << b)).toByte
      s"bit $b of byte $i flipped" -> y
    }
    val fields = edges.filter(_ % 4 == 0).iterator.flatMap { off =>
      val ints = if (off + 4 <= n) Seq(Int.MaxValue, -1, Int.MinValue).map { v =>
        val y = x.clone(); ByteBuffer.wrap(y).putInt(off, v); s"int at $off set to $v" -> y
      } else Nil
      val wides = if (off % 8 == 0 && off + 8 <= n)
        Seq(Int.MaxValue.toLong, Long.MaxValue, -1L, Long.MinValue).map { v =>
          val y = x.clone(); ByteBuffer.wrap(y).putLong(off, v); s"long at $off set to $v" -> y
        } else Nil
      ints ++ wides
    }
    truncated ++ flipped ++ fields
  }

  /** A keyed pack of two small int filters and an empty entry. */
  private val builtPack: Array[Byte] = graft.plans.BloomFilterPack.encode(Seq(
    "g0" -> built(Bloom(BloomConfig(k0, k1, 3, 3)), SketchInput.Ints, (1 to 40).map(i => i * 7)),
    "g1" -> built(Bloom(BloomConfig(k0, k1, 2, 2)), SketchInput.Ints, (1 to 40).map(i => -i)),
    "" -> Array.emptyByteArray))

  private val decoders: Seq[(String, Array[Byte] => Any, Seq[Array[Byte]])] =
    cases.map { case (label, kind, inputs) => (label, (x: Array[Byte]) => kind.fromBytes(x), inputs) } :+
      (("keyed filter pack", (x: Array[Byte]) => graft.plans.LoadedBloomPack.load(k0, k1, x, BlockedBloom.TypeTag.Int),
        Seq(golden("bloom_pack.bin"), builtPack)))

  for ((label, decode, inputs) <- decoders)
    test(s"$label: fromBytes on golden and built payloads decodes or throws IllegalArgumentException") {
      inputs.foreach(x => decode(x)) // the unmutated payloads decode
      val escapes = for {
        (x, i) <- inputs.iterator.zipWithIndex
        (what, y) <- mutations(x)
        err <- (try { decode(y); None } catch {
          case _: IllegalArgumentException => None
          case t: Throwable => Some(t)
        })
      } yield s"input $i, $what: $err"
      val found = escapes.take(5).toList
      assert(found.isEmpty,
        s"$label decoder let non-IllegalArgumentException errors escape:\n${found.mkString("\n")}")
    }

  test("KLL and t-digest decoders reject short and oversized payloads up front") {
    val kll = golden("kll_64.bin")
    // formerly a BufferUnderflowException from the level sizes
    assertThrows[IllegalArgumentException](Kll.fromBytes(java.util.Arrays.copyOf(kll, 60)))
    // formerly an Array.fill sized by the header's level count
    val levels = kll.clone(); ByteBuffer.wrap(levels).putLong(24, Int.MaxValue.toLong)
    assertThrows[IllegalArgumentException](Kll.fromBytes(levels))
    val negative = kll.clone(); ByteBuffer.wrap(negative).putInt(40, -1)
    assertThrows[IllegalArgumentException](Kll.fromBytes(negative))
    val td = golden("tdigest_100.bin")
    // formerly never checked against the byte length
    val centroids = td.clone(); ByteBuffer.wrap(centroids).putLong(40, Int.MaxValue.toLong)
    assertThrows[IllegalArgumentException](TDigest.fromBytes(centroids))
    assertThrows[IllegalArgumentException](TDigest.fromBytes(java.util.Arrays.copyOf(td, td.length - 1)))
    assertThrows[IllegalArgumentException](TDigest.fromBytes(java.util.Arrays.copyOf(td, 20)))
  }

  test("keyed filter pack: malformed headers are rejected before any allocation; the size bound holds at its cap") {
    import graft.plans.BloomFilterPack
    def header(ints: Int*): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 * ints.length)
      ints.foreach(bb.putInt)
      bb.array()
    }
    // formerly a NegativeArraySizeException, an Int.MaxValue-byte
    // allocation and a BufferUnderflowException
    Seq(header(1, -1), header(1, Int.MaxValue), header(1, 0), header(Int.MaxValue), Array[Byte](0, 0))
      .foreach(x => assertThrows[IllegalArgumentException](BloomFilterPack.decode(x)))
    BloomFilterPack.checkBounds(BloomFilterPack.MaxEntries, BloomFilterPack.MaxSketchBytes)
    val groups = intercept[IllegalArgumentException](
      BloomFilterPack.checkBounds(BloomFilterPack.MaxEntries + 1, 10L))
    assert(groups.getMessage.contains(s"${BloomFilterPack.MaxEntries + 1} groups and 10 sketch bytes"))
    val bytes = intercept[IllegalArgumentException](
      BloomFilterPack.checkBounds(3L, BloomFilterPack.MaxSketchBytes + 1))
    assert(bytes.getMessage.contains(s"3 groups and ${BloomFilterPack.MaxSketchBytes + 1} sketch bytes"))
  }
}
