package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Equivalence gates for the optimization-round allocation-light MinHash
  * kernels: [[MinHash.signatureOfWords]] and [[MinHash.shingleHashes64]]
  * must be VALUE-IDENTICAL to the iterator/string-building paths they
  * replace ([[MinHash.signature]] over [[MinHash.wordShingles]] and the
  * per-shingle `SipHash.hashString` map) — the scratch-buffer assembly is
  * a pure strength reduction. */
class MinHashKernelSpec extends AnyFunSuite {

  private val k0 = 0x0706050403020100L
  private val k1 = 0x0f0e0d0c0b0a0908L

  private def randomWords(seed: Int, n: Int): Array[String] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n) {
      val len = 1 + rnd.nextInt(12)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
  }

  test("signatureOfWords == signature(wordShingles) across sizes incl. < n words") {
    for (seed <- 1 to 40; n <- Seq(2, 3, 5)) {
      val words = randomWords(seed, seed % 9) // 0..8 words: covers empty and < n
      val viaIter = MinHash.signature(k0, k1, MinHash.wordShingles(words, n), 64)
      val viaKernel = MinHash.signatureOfWords(k0, k1, words, n, 64)
      assert(viaKernel.sameElements(viaIter), s"seed=$seed n=$n words=${words.mkString(",")}")
    }
  }

  test("signatureOfWords handles multi-byte UTF-8 words identically") {
    val words = Array("café", "日本語", "naïve", "😀mix", "plain")
    for (n <- Seq(2, 3, 7)) {
      val viaIter = MinHash.signature(k0, k1, MinHash.wordShingles(words, n), 128)
      val viaKernel = MinHash.signatureOfWords(k0, k1, words, n, 128)
      assert(viaKernel.sameElements(viaIter), s"n=$n")
    }
  }

  test("shingleHashes64 == mapped-distinct string path (order preserved)") {
    for (seed <- 1 to 40) {
      val words = randomWords(seed + 1000, seed % 11)
      val viaStrings = MinHash.wordShingles(words, 3)
        .map(s => SipHash.hashString(k0, k1, s)).toArray.distinct
      val viaKernel = MinHash.shingleHashes64(k0, k1, words, 3)
      assert(viaKernel.sameElements(viaStrings), s"seed=$seed")
    }
  }

  test("hash128Into / hash64Range match the allocating whole-array forms") {
    val rnd = new scala.util.Random(7)
    val out = new Array[Long](2)
    for (len <- 0 to 40) {
      val data = Array.fill(len + 11)(rnd.nextInt().toByte) // trailing garbage past len
      val prefix = data.take(len)
      SipHash.hash128Into(k0, k1, data, len, out)
      val whole = new Array[Long](2)
      SipHash.hash128Into(k0, k1, prefix, prefix.length, whole)
      assert(out.sameElements(whole), s"hash128 len=$len")
      assert(SipHash.hash64Range(k0, k1, data, len) == SipHash.hash64(k0, k1, prefix),
        s"hash64 len=$len")
    }
  }
}
