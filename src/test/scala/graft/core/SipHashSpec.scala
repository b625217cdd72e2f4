package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** SipHash-2-4 correctness against the published reference test vectors
  * (Aumasson & Bernstein's C reference implementation `vectors_sip64`:
  * key = 00 01 .. 0f, messages = [], [00], [00 01], ...), plus canonical
  * encoding consistency. Hash stability across JVMs is the correctness
  * anchor for every distributed sketch (SURVEY.md §7 "Hard parts").
  *
  * Every public entry point is also compared, on random keys and inputs,
  * with [[SipHashSpec.Reference]]: a plain byte-at-a-time SipHash-2-4 that
  * shares no code with `SipHash`.
  */
class SipHashSpec extends AnyFunSuite {
  import SipHashSpec._

  // key bytes 000102...0f little-endian
  val k0 = 0x0706050403020100L
  val k1 = 0x0f0e0d0c0b0a0908L

  // vectors_sip64 from the SipHash reference implementation, as LE uint64
  val expected64: Seq[Long] = Seq(
    0x726fdb47dd0e0e31L, 0x74f839c593dc67fdL, 0x0d6c8009d9a94f5aL,
    0x85676696d7fb7e2dL, 0xcf2794e0277187b7L, 0x18765564cd99a68dL,
    0xcbc9466e58fee3ceL, 0xab0200f58b01d137L, 0x93f5f5799a932462L,
    0x9e0082df0ba9e4b0L, 0x7a5dbbc594ddb9f3L, 0xf4b32f46226bada7L,
    0x751e8fbc860ee5fbL, 0x14ea5627c0843d90L, 0xf723ca908e7af2eeL,
    0xa129ca6149be45e5L
  )

  test("matches the published SipHash-2-4 64-bit test vectors") {
    for (len <- expected64.indices) {
      val msg = Array.tabulate[Byte](len)(_.toByte)
      assert(SipHash.hash64(k0, k1, msg) === expected64(len),
        s"vector mismatch at message length $len")
    }
  }

  test("hashInt/hashLong agree with hash64 over canonical LE encodings") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val x = rnd.nextInt()
      assert(SipHash.hashInt(k0, k1, x) === SipHash.hash64(k0, k1, encodeInt(x)))
      val y = rnd.nextLong()
      assert(SipHash.hashLong(k0, k1, y) === SipHash.hash64(k0, k1, encodeLong(y)))
    }
  }

  // vectors_sip128 from the SipHash reference implementation (same key,
  // same messages), as 16-byte LE output: first 8 bytes = `lo`, next 8 =
  // `hi` of graft's (hi, lo). Anchors the 128-bit finalization constants
  // (0xee init/first-half, 0xdd second-half) that CMS and the 128-bit
  // Bloom path depend on.
  val expected128: Seq[String] = Seq(
    "a3817f04ba25a8e66df67214c7550293",
    "da87c1d86b99af44347659119b22fc45",
    "8177228da4a45dc7fca38bdef60affe4",
    "9c70b60c5267a94e5f33b6b02985ed51",
    "f88164c12d9c8faf7d0f6e7c7bcd5579",
    "1368875980776f8854527a07690e9627",
    "14eeca338b208613485ea0308fd7a15e",
    "a1f1ebbed8dbc153c0b84aa61ff08239"
  )

  private def le64(hex: String): Long =
    java.lang.Long.reverseBytes(java.lang.Long.parseUnsignedLong(hex, 16))

  test("matches the published SipHash-2-4 128-bit test vectors") {
    val out = new Array[Long](2)
    for (len <- expected128.indices) {
      val msg = Array.tabulate[Byte](len)(_.toByte)
      SipHash.hash128Into(k0, k1, msg, len, out)
      assert(out(1) === le64(expected128(len).substring(0, 16)),
        s"128-bit lo-half mismatch at message length $len")
      assert(out(0) === le64(expected128(len).substring(16)),
        s"128-bit hi-half mismatch at message length $len")
    }
  }

  test("hash128 short-input fast paths agree with the byte-array path") {
    val rnd = new scala.util.Random(43)
    val fast = new Array[Long](2)
    val bytes = new Array[Long](2)
    for (_ <- 0 until 2000) {
      val x = rnd.nextInt()
      SipHash.hash128IntInto(k0, k1, x, fast)
      SipHash.hash128Into(k0, k1, encodeInt(x), 4, bytes)
      assert(fast.sameElements(bytes), s"int $x")
      val y = rnd.nextLong()
      SipHash.hash128LongInto(k0, k1, y, fast)
      SipHash.hash128Into(k0, k1, encodeLong(y), 8, bytes)
      assert(fast.sameElements(bytes), s"long $y")
    }
  }

  test("hash64 over long arbitrary byte arrays is deterministic and length-sensitive") {
    val rnd = new scala.util.Random(44)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(200)
      val msg = Array.fill[Byte](n)(rnd.nextInt().toByte)
      assert(SipHash.hash64(k0, k1, msg) === SipHash.hash64(k0, k1, msg.clone()))
      // appending a zero byte must change the hash (length is mixed in)
      assert(SipHash.hash64(k0, k1, msg) !== SipHash.hash64(k0, k1, msg :+ 0.toByte))
    }
  }

  test("different keys give different hashes (keyed-ness)") {
    val collisions = (0 until 1000).count { i =>
      SipHash.hashInt(k0, k1, i) == SipHash.hashInt(k0 + 1, k1, i)
    }
    assert(collisions === 0)
  }

  test("hashString is UTF-8 canonical") {
    assert(SipHash.hashString(k0, k1, "héllo") ===
      SipHash.hash64(k0, k1, "héllo".getBytes("UTF-8")))
  }

  test("128-bit output: halves are distinct and deterministic") {
    val a = new Array[Long](2)
    val b = new Array[Long](2)
    val msg = "graft".getBytes(UTF_8)
    SipHash.hash128Into(k0, k1, msg, msg.length, a)
    SipHash.hash128Into(k0, k1, msg, msg.length, b)
    assert(a.sameElements(b))
    assert(a(0) !== a(1))
  }

  test("uniformity smoke: bit balance of hashInt over sequential ints") {
    val counts = new Array[Int](64)
    val n = 20000
    for (i <- 0 until n) {
      val h = SipHash.hashInt(k0, k1, i)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
    }
    counts.zipWithIndex.foreach { case (c, b) =>
      assert(math.abs(c.toDouble / n - 0.5) < 0.02, s"bit $b unbalanced: $c/$n")
    }
  }

  test("the byte-at-a-time reference matches the published 64- and 128-bit vectors") {
    for (len <- expected64.indices) {
      val msg = Array.tabulate[Byte](len)(_.toByte)
      assert(Reference.hash(k0, k1, msg, wide = false).toSeq === Seq(expected64(len)), s"len $len")
    }
    for (len <- expected128.indices) {
      val msg = Array.tabulate[Byte](len)(_.toByte)
      val hex = expected128(len)
      assert(Reference.hash(k0, k1, msg, wide = true).toSeq ===
        Seq(le64(hex.substring(0, 16)), le64(hex.substring(16))), s"len $len")
    }
  }

  test("byte-range entry points match the reference at both widths, lengths 0..64") {
    val rnd = new scala.util.Random(46)
    val out = new Array[Long](2)
    for (len <- 0 to 64; _ <- 0 until 20) {
      val (a, b) = (rnd.nextLong(), rnd.nextLong())
      val data = Array.fill(len + rnd.nextInt(12))(rnd.nextInt().toByte) // bytes past len are ignored
      val msg = data.take(len)
      val Array(ref64) = Reference.hash(a, b, msg, wide = false)
      val Array(lo, hi) = Reference.hash(a, b, msg, wide = true)
      assert(SipHash.hash64(a, b, msg) === ref64, s"hash64 len=$len")
      assert(SipHash.hash64Range(a, b, data, len) === ref64, s"hash64Range len=$len of ${data.length}")
      SipHash.hash128Into(a, b, data, len, out)
      assert(out(0) === hi && out(1) === lo, s"hash128Into len=$len of ${data.length}")
    }
  }

  test("packed-word entry points match the reference at both widths") {
    val rnd = new scala.util.Random(47)
    val out = new Array[Long](2)
    for (_ <- 0 until 2000) {
      val (a, b) = (rnd.nextLong(), rnd.nextLong())
      val x = rnd.nextInt()
      assert(SipHash.hashInt(a, b, x) === Reference.hash(a, b, encodeInt(x), wide = false)(0), s"int $x")
      SipHash.hash128IntInto(a, b, x, out)
      assert(out.toSeq === Reference.hash(a, b, encodeInt(x), wide = true).reverse.toSeq, s"int128 $x")
      val y = rnd.nextLong()
      assert(SipHash.hashLong(a, b, y) === Reference.hash(a, b, encodeLong(y), wide = false)(0), s"long $y")
      SipHash.hash128LongInto(a, b, y, out)
      assert(out.toSeq === Reference.hash(a, b, encodeLong(y), wide = true).reverse.toSeq, s"long128 $y")
    }
  }

  test("hashString and the 128-bit string path match the reference over UTF-8") {
    val rnd = new scala.util.Random(48)
    val alphabet = "ab\u0000é日😀"
    val out = new Array[Long](2)
    for (_ <- 0 until 500) {
      val (a, b) = (rnd.nextLong(), rnd.nextLong())
      val s = Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val utf8 = s.getBytes(UTF_8)
      assert(SipHash.hashString(a, b, s) === Reference.hash(a, b, utf8, wide = false)(0), s)
      SipHash.hash128Into(a, b, utf8, utf8.length, out)
      assert(out.toSeq === Reference.hash(a, b, utf8, wide = true).reverse.toSeq, s)
    }
  }
}

object SipHashSpec {

  def encodeInt(x: Int): Array[Byte] = Array.tabulate(4)(i => (x >>> (8 * i)).toByte)

  def encodeLong(x: Long): Array[Byte] = Array.tabulate(8)(i => (x >>> (8 * i)).toByte)

  /** SipHash-2-4 (64-bit) and SipHash-2-4-128 written from the paper's
    * description, one message byte at a time, for checking `SipHash`.
    * Returns the output words in order: one word, or `(lo, hi)` when `wide`.
    */
  object Reference {
    private def rotl(x: Long, b: Int): Long = java.lang.Long.rotateLeft(x, b)

    private def sipRound(v: Array[Long]): Unit = {
      v(0) += v(1); v(1) = rotl(v(1), 13); v(1) ^= v(0); v(0) = rotl(v(0), 32)
      v(2) += v(3); v(3) = rotl(v(3), 16); v(3) ^= v(2)
      v(0) += v(3); v(3) = rotl(v(3), 21); v(3) ^= v(0)
      v(2) += v(1); v(1) = rotl(v(1), 17); v(1) ^= v(2); v(2) = rotl(v(2), 32)
    }

    def hash(k0: Long, k1: Long, msg: Array[Byte], wide: Boolean): Array[Long] = {
      val v = Array(k0 ^ 0x736f6d6570736575L, k1 ^ 0x646f72616e646f6dL,
        k0 ^ 0x6c7967656e657261L, k1 ^ 0x7465646279746573L)
      if (wide) v(1) ^= 0xee
      def compress(m: Long): Unit = { v(3) ^= m; sipRound(v); sipRound(v); v(0) ^= m }
      var m = 0L
      for (i <- msg.indices) {
        m |= (msg(i) & 0xffL) << (8 * (i % 8))
        if (i % 8 == 7) { compress(m); m = 0L }
      }
      compress(m | (msg.length.toLong << 56))
      v(2) ^= (if (wide) 0xee else 0xff)
      for (_ <- 1 to 4) sipRound(v)
      val first = v(0) ^ v(1) ^ v(2) ^ v(3)
      if (!wide) Array(first)
      else {
        v(1) ^= 0xdd
        for (_ <- 1 to 4) sipRound(v)
        Array(first, v(0) ^ v(1) ^ v(2) ^ v(3))
      }
    }
  }
}
