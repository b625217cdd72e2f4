package sketchbench

import graft.core._

/** Single-thread, warmed loops over the public `graft.core` kernels, run on
  * a workload's own generated tokens. Each figure is the median of several
  * timed repetitions after one untimed one. */
object Kernels {
  private val K0 = Keys.DefaultK0
  private val K1 = Keys.DefaultK1
  @volatile var sink: Long = 0L

  /** Median ns per op over `reps` timed runs of `body` (which does `ops` ops). */
  def nsPerOp(ops: Long, reps: Int = 5)(body: => Long): Double = {
    sink ^= body
    val xs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      sink ^= body
      (System.nanoTime() - t0).toDouble / ops
    }
    Stats.median(xs)
  }

  /** The co-tenancy index: ns per SipHash of a fixed int sequence on one
    * thread. A slow figure next to a slow run says the machine was busy. */
  def cotenancyNs(): Double = nsPerOp(2000000L) {
    var acc = 0L
    var i = 0
    while (i < 2000000) { acc ^= SipHash.hashInt(K0, K1, i); i += 1 }
    acc
  }

  /** All `core.*` per-layer figures. Inserts go to the filter the workload
    * builds; lookups go to a filter of the probe size, larger than L2, so
    * their cache misses show. */
  def measure(tokens: Array[Int], vocab: Int, bloomCfg: BloomConfig, probeCfg: BloomConfig, hllP: Int,
      cmsCfg: CmsConfig, docWords: Array[Array[String]]): Map[String, Double] = {
    val n = tokens.length.toLong
    val siphash = nsPerOp(n) {
      var acc = 0L; var i = 0
      while (i < tokens.length) { acc ^= SipHash.hashInt(K0, K1, tokens(i)); i += 1 }
      acc
    }
    val words = new Array[Long](bloomCfg.l)
    val insert = nsPerOp(n) {
      var acc = 0L; var i = 0
      while (i < tokens.length) { if (BlockedBloom.insertInt(words, bloomCfg, tokens(i))) acc += 1; i += 1 }
      acc
    }
    val probeWords = new Array[Long](probeCfg.l)
    tokens.foreach(BlockedBloom.insertInt(probeWords, probeCfg, _))
    // half inserted keys, half never-inserted ones (ids above the vocabulary)
    val contains = nsPerOp(n) {
      var acc = 0L; var i = 0
      while (i < tokens.length) {
        val x = if ((i & 1) == 0) tokens(i) else vocab + 1 + i
        if (BlockedBloom.containsInt(probeWords, probeCfg, x)) acc += 1
        i += 1
      }
      acc
    }
    val regs = Hll.empty(hllP)
    val hll = nsPerOp(n) {
      var i = 0
      while (i < tokens.length) { Hll.addHash(regs, hllP, SipHash.hashInt(K0, K1, tokens(i))); i += 1 }
      regs(0).toLong
    }
    val cms = CountMin.empty(cmsCfg)
    val scratch = new Array[Long](2)
    val cmsNs = nsPerOp(n) {
      var i = 0
      while (i < tokens.length) {
        SipHash.hash128IntInto(K0, K1, tokens(i), scratch)
        CountMin.addHash(cms, cmsCfg, scratch(1), scratch(0) | 1L)
        i += 1
      }
      cms(0)
    }
    // merge and serde over the three sketches the build job produces
    val kib = (8.0 * words.length + regs.length + 8.0 * cms.length) / 1024
    val rounds = math.max(4, (64 * 1024 / kib).toInt)
    val (w2, r2, c2) = (words.clone(), regs.clone(), cms.clone())
    val merge = nsPerOp(rounds) {
      var j = 0
      while (j < rounds) {
        BlockedBloom.unionInPlace(w2, words); Hll.merge(r2, regs); CountMin.merge(c2, cms); j += 1
      }
      w2(0) ^ r2(0) ^ c2(0)
    } / kib
    val keyHash = SipHash.hashLong(K0, K1, K0 ^ K1)
    val serde = nsPerOp(rounds) {
      var acc = 0L; var j = 0
      while (j < rounds) {
        val b = BlockedBloom.toBytes(words, bloomCfg, BlockedBloom.TypeTag.Int)
        val h = Hll.toBytes(regs, hllP, BlockedBloom.TypeTag.Int, keyHash)
        val c = CountMin.toBytes(cms, cmsCfg, BlockedBloom.TypeTag.Int)
        acc += BlockedBloom.fromBytes(K0, K1, b)._2.length + Hll.fromBytes(h)._2.length +
          CountMin.fromBytes(c)._3.length
        j += 1
      }
      acc
    } / kib
    val minhash = nsPerOp(docWords.length.toLong) {
      var acc = 0L; var i = 0
      while (i < docWords.length) { acc ^= MinHash.signatureOfWords(K0, K1, docWords(i), 3, 128)(0); i += 1 }
      acc
    } / 1000.0
    Map(
      "core.siphash_int_ns" -> siphash,
      "core.bloom_insert_ns" -> insert,
      "core.bloom_contains_ns" -> contains,
      "core.hll_update_ns" -> hll,
      "core.cms_update_ns" -> cmsNs,
      "core.sketch_merge_ns_per_kib" -> merge,
      "core.sketch_serde_ns_per_kib" -> serde,
      "core.minhash_sig_us_per_doc" -> minhash)
  }
}
