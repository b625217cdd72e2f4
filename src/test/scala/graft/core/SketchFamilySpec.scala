package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Error-bound + merge-monoid property tests for the generalized sketch
  * family (BASELINE.json north_rule): HLL within ~1.04/sqrt(m), count-min
  * one-sided and within epsilon*N, KLL / t-digest within published rank
  * error; every sketch's insert-then-merge must equal (or bound-match)
  * a single-sketch build — the distributed analogue of the reference's
  * concurrent-insert ≡ serial test (tests/Main.hs:142-159).
  */
class SketchFamilySpec extends AnyFunSuite {

  val k0 = 0x5eedf00ddeadbeefL
  val k1 = 0x0123456789abcdefL

  // ----------------------------------------------------------------- HLL

  test("HLL: estimate within 4 sigma across cardinalities") {
    val p = 12
    for (n <- Seq(100, 1000, 10000, 100000)) {
      val regs = Hll.empty(p)
      (1 to n).foreach(i => Hll.addHash(regs, p, SipHash.hashInt(k0, k1, i)))
      val est = Hll.estimate(regs)
      val sigma = Hll.stdError(p) * n
      assert(math.abs(est - n) <= 4 * sigma + 2,
        s"HLL(p=$p) n=$n est=$est outside 4 sigma ($sigma)")
    }
  }

  test("HLL: duplicates do not change the estimate (idempotent adds)") {
    val p = 10
    val once = Hll.empty(p)
    (1 to 5000).foreach(i => Hll.addHash(once, p, SipHash.hashInt(k0, k1, i)))
    val thrice = Hll.empty(p)
    for (_ <- 1 to 3; i <- 1 to 5000) Hll.addHash(thrice, p, SipHash.hashInt(k0, k1, i))
    assert(once.sameElements(thrice))
  }

  test("HLL: split-then-merge is register-identical to single build") {
    val p = 11
    val single = Hll.empty(p)
    (1 to 20000).foreach(i => Hll.addHash(single, p, SipHash.hashInt(k0, k1, i)))
    val parts = (1 to 20000).grouped(3000).map { chunk =>
      val r = Hll.empty(p)
      chunk.foreach(i => Hll.addHash(r, p, SipHash.hashInt(k0, k1, i)))
      r
    }.toSeq
    val merged = parts.reduce((a, b) => Hll.merge(a, b))
    assert(merged.sameElements(single), "merge must be exactly the register max")
  }

  test("HLL: merge is commutative and associative (register-exact)") {
    val p = 8
    def sk(lo: Int, hi: Int) = {
      val r = Hll.empty(p)
      (lo to hi).foreach(i => Hll.addHash(r, p, SipHash.hashInt(k0, k1, i)))
      r
    }
    val (a, b, c) = (sk(1, 400), sk(300, 900), sk(850, 2000))
    val abc1 = Hll.merge(Hll.merge(sk(1, 400), b.clone()), c.clone())
    val abc2 = Hll.merge(a.clone(), Hll.merge(b.clone(), c.clone()))
    val cba = Hll.merge(Hll.merge(c.clone(), b.clone()), sk(1, 400))
    assert(abc1.sameElements(abc2))
    assert(abc1.sameElements(cba))
  }

  test("HLL: serialization roundtrip") {
    val p = 10
    val regs = Hll.empty(p)
    (1 to 777).foreach(i => Hll.addHash(regs, p, SipHash.hashInt(k0, k1, i)))
    val bytes = Hll.toBytes(regs, p, 1L, 0L)
    val (p2, regs2, tag) = Hll.fromBytes(bytes)
    assert(p2 === p && tag === 1L && regs2.sameElements(regs))
  }

  test("HLL: sparse serialization — small sketches shrink, roundtrip register-exact") {
    val p = 12 // m = 4096; sparse while 5 * nonzero < 4096
    for (n <- Seq(0, 1, 50, 500)) {
      val regs = Hll.empty(p)
      (1 to n).foreach(i => Hll.addHash(regs, p, SipHash.hashInt(k0, k1, i)))
      val bytes = Hll.toBytes(regs, p, 1L, 9L)
      val c = Hll.nonzeroCount(regs)
      assert(bytes.length === 32 + 5 * c, s"n=$n should serialize sparse")
      assert(bytes.length < 32 + (1 << p))
      val (p2, regs2, tag, kh) = Hll.fromBytesFull(bytes)
      assert(p2 === p && tag === 1L && kh === 9L && regs2.sameElements(regs))
      // re-encode determinism: decode -> encode is byte-identical
      assert(Hll.toBytes(regs2, p2, tag, kh).sameElements(bytes))
    }
  }

  test("HLL: dense/sparse boundary — the encoding flips exactly at 5*c < m") {
    val p = 4 // m = 16: sparse needs 5c < 16 -> c <= 3
    def withNonzero(c: Int): Array[Byte] = {
      val regs = Hll.empty(p)
      (0 until c).foreach(i => regs(i) = 1)
      regs
    }
    assert(Hll.toBytes(withNonzero(3), p, 1L, 0L).length === 32 + 15) // sparse
    assert(Hll.toBytes(withNonzero(4), p, 1L, 0L).length === 32 + 16) // dense
    val (_, back, _, _) = Hll.fromBytesFull(Hll.toBytes(withNonzero(3), p, 1L, 0L))
    assert(back.sameElements(withNonzero(3)))
  }

  test("HLL: estimate and merge identical through the sparse wire") {
    val p = 12
    val a = Hll.empty(p); val b = Hll.empty(p); val direct = Hll.empty(p)
    (1 to 300).foreach { i =>
      val h = SipHash.hashInt(k0, k1, i)
      Hll.addHash(direct, p, h)
      Hll.addHash(if (i % 2 == 0) a else b, p, h)
    }
    val (_, a2, _, _) = Hll.fromBytesFull(Hll.toBytes(a, p, 1L, 0L))
    val (_, b2, _, _) = Hll.fromBytesFull(Hll.toBytes(b, p, 1L, 0L))
    val merged = Hll.merge(a2, b2)
    assert(merged.sameElements(direct))
    assert(Hll.estimate(merged) === Hll.estimate(direct))
    // and the merged result re-serializes exactly as the direct build does
    assert(Hll.toBytes(merged, p, 1L, 0L).sameElements(Hll.toBytes(direct, p, 1L, 0L)))
  }

  test("HLL: corrupt sparse payloads are rejected loudly") {
    val p = 12
    val regs = Hll.empty(p)
    (1 to 100).foreach(i => Hll.addHash(regs, p, SipHash.hashInt(k0, k1, i)))
    val good = Hll.toBytes(regs, p, 1L, 0L)
    assert(good(7) === 2.toByte) // sparse version marker in the BE header
    // truncated entries
    intercept[IllegalArgumentException](Hll.fromBytesFull(good.dropRight(3)))
    // non-increasing index: duplicate the first entry over the second
    val dupIdx = good.clone()
    System.arraycopy(dupIdx, 32, dupIdx, 37, 5)
    intercept[IllegalArgumentException](Hll.fromBytesFull(dupIdx))
    // rho out of range (0 is impossible in a stored entry)
    val badRho = good.clone()
    badRho(36) = 0
    intercept[IllegalArgumentException](Hll.fromBytesFull(badRho))
    // index out of range: set the last entry's index to m
    val badIdx = good.clone()
    val off = badIdx.length - 5
    badIdx(off) = 0; badIdx(off + 1) = 0; badIdx(off + 2) = 0x10; badIdx(off + 3) = 0
    intercept[IllegalArgumentException](Hll.fromBytesFull(badIdx))
    // unknown version
    val badVer = good.clone()
    badVer(7) = 3
    intercept[IllegalArgumentException](Hll.fromBytesFull(badVer))
  }

  // ----------------------------------------------------------- count-min

  val cms = CmsConfig(k0, k1, depth = 5, log2Width = 11) // eps ~ 0.0013

  test("CMS: never underestimates; overestimate bounded by eps*N (w.h.p.)") {
    val buf = CountMin.empty(cms)
    // zipf-ish: token t appears ceil(2000/t) times
    val trueCount = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for (t <- 1 to 500; _ <- 1 to math.ceil(2000.0 / t).toInt) {
      CountMin.addInt(buf, cms, t)
      trueCount(t) += 1
    }
    val n = CountMin.totalCount(buf, cms)
    assert(n === trueCount.values.sum)
    var violations = 0
    for (t <- 1 to 500) {
      val est = CountMin.estimateInt(buf, cms, t)
      assert(est >= trueCount(t), s"CMS underestimated token $t: $est < ${trueCount(t)}")
      if (est > trueCount(t) + (cms.epsilon * n).ceil.toLong) violations += 1
    }
    // P[violation] <= delta = e^-5 ~ 0.0067 per query
    assert(violations <= math.max(2, (2 * cms.delta * 500).toInt),
      s"CMS epsilon-bound violated $violations/500 times")
  }

  test("CMS: split-then-merge is counter-identical to single build") {
    val single = CountMin.empty(cms)
    (1 to 30000).foreach(i => CountMin.addInt(single, cms, i % 97))
    val parts = (1 to 30000).grouped(7000).map { chunk =>
      val b = CountMin.empty(cms)
      chunk.foreach(i => CountMin.addInt(b, cms, i % 97))
      b
    }.toSeq
    val merged = parts.reduce((a, b) => CountMin.merge(a, b))
    assert(merged.sameElements(single))
  }

  test("CMS: serialization roundtrip") {
    val buf = CountMin.empty(cms)
    (1 to 999).foreach(i => CountMin.addInt(buf, cms, i % 13))
    val bytes = CountMin.toBytes(buf, cms, 1L)
    val (d, lw, buf2, tag) = CountMin.fromBytes(bytes)
    assert(d === cms.depth && lw === cms.log2Width && tag === 1L)
    assert(buf2.sameElements(buf))
  }

  // ------------------------------------------------------------------ KLL

  test("KLL: rank error within published bound on shuffled input") {
    val k = 200
    val n = 100000
    val rnd = new scala.util.Random(42)
    val data = rnd.shuffle((1 to n).toVector)
    val sk = new KllSketch(k)
    data.foreach(x => sk.add(x.toDouble))
    assert(sk.n === n.toLong)
    val eps = Kll.normalizedRankError(k) // ~ 2.446/k^0.9433 ~ 0.0164
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = sk.quantile(q)
      val trueRank = est / n // data is 1..n so rank(x) = x/n
      assert(math.abs(trueRank - q) <= eps * 1.5,
        s"KLL q=$q est=$est rank=$trueRank outside eps=$eps")
    }
  }

  test("KLL: merge of partitioned inserts matches bound too") {
    val k = 200
    val n = 60000
    val rnd = new scala.util.Random(7)
    val data = rnd.shuffle((1 to n).toVector)
    val parts = data.grouped(9000).map { chunk =>
      val s = new KllSketch(k)
      chunk.foreach(x => s.add(x.toDouble))
      s
    }.toSeq
    val merged = parts.reduce((a, b) => a.merge(b))
    assert(merged.n === n.toLong)
    val eps = Kll.normalizedRankError(k)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = merged.quantile(q)
      assert(math.abs(est / n - q) <= eps * 2,
        s"merged KLL q=$q est=$est outside bound")
    }
  }

  test("KLL: serialization roundtrip preserves quantiles exactly") {
    val sk = new KllSketch(128)
    (1 to 5000).foreach(x => sk.add(x.toDouble))
    val back = Kll.fromBytes(sk.toBytes)
    assert(back.n === sk.n)
    for (q <- Seq(0.1, 0.5, 0.9)) assert(back.quantile(q) === sk.quantile(q))
  }

  test("KLL: the sorted view answers every quantile like a scan of the retained items") {
    // the scan: every retained item with its weight 2^level, stably sorted
    // by value; the first item whose cumulative weight reaches ceil(q * n)
    def scan(s: KllSketch, q: Double): Double = {
      val items = s.levels.zipWithIndex.flatMap { case (l, h) => l.map(v => (v, 1L << h)) }.sortBy(_._1)
      val target = math.max(1L, math.ceil(q * s.n).toLong)
      val i = items.scanLeft(0L)(_ + _._2).tail.indexWhere(_ >= target)
      items(if (i >= 0) i else items.length - 1)._1
    }
    val rng = new scala.util.Random(11)
    for (n <- Seq(1, 7, 200, 5000); k <- Seq(8, 64)) {
      val sk = new KllSketch(k)
      (0 until n).foreach(_ => sk.add(math.floor(rng.nextGaussian() * 50) / 2))
      val view = new KllSortedView(sk)
      for (q <- (0 to 100).map(_ / 100.0) :+ 1e-9) {
        assert(view.quantile(q) === scan(sk, q), s"n=$n k=$k q=$q")
        assert(sk.quantile(q) === scan(sk, q))
      }
    }
    assert(new KllSortedView(new KllSketch(8)).quantile(0.5).isNaN)
    intercept[IllegalArgumentException](new KllSortedView(new KllSketch(8)).quantile(1.5))
  }

  // -------------------------------------------------------------- t-digest

  test("t-digest: quantile rank error small at delta=100") {
    val n = 100000
    val rnd = new scala.util.Random(11)
    val d = new TDigest(100)
    rnd.shuffle((1 to n).toVector).foreach(x => d.add(x.toDouble))
    assert(math.abs(d.n - n) < 1e-9)
    for (q <- Seq(0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999)) {
      val est = d.quantile(q)
      val rankErr = math.abs(est / n - q)
      // k1 scale function: tighter at tails, ~O(1/delta) at the median
      val bound = if (q <= 0.01 || q >= 0.99) 0.005 else 0.03
      assert(rankErr <= bound, s"t-digest q=$q est=$est rankErr=$rankErr > $bound")
    }
    assert(d.centroidCount <= 2 * 100, "centroid count should stay O(delta)")
  }

  test("t-digest: merged partitions stay within the envelope") {
    val n = 60000
    val rnd = new scala.util.Random(13)
    val parts = rnd.shuffle((1 to n).toVector).grouped(10000).map { chunk =>
      val d = new TDigest(100)
      chunk.foreach(x => d.add(x.toDouble))
      d
    }.toSeq
    val merged = parts.reduce((a, b) => a.merge(b))
    assert(math.abs(merged.n - n) < 1e-9)
    for (q <- Seq(0.01, 0.5, 0.99)) {
      val rankErr = math.abs(merged.quantile(q) / n - q)
      val bound = if (q <= 0.01 || q >= 0.99) 0.01 else 0.04
      assert(rankErr <= bound, s"merged t-digest q=$q rankErr=$rankErr")
    }
  }

  test("t-digest: extreme quantiles return observed min/max (tracked extremes)") {
    val d = new TDigest(100)
    val rnd = new scala.util.Random(3)
    rnd.shuffle((1 to 100000).toVector).foreach(x => d.add(x.toDouble))
    assert(d.quantile(0.0) === 1.0)
    assert(d.quantile(1.0) === 100000.0)
    // survives serialization
    val back = TDigest.fromBytes(d.toBytes)
    assert(back.quantile(0.0) === 1.0 && back.quantile(1.0) === 100000.0)
    // near-extreme quantiles stay close to the true tails
    assert(math.abs(back.quantile(0.999) / 100000.0 - 0.999) < 0.002)
  }

  test("HLL/CMS cross-key merges are rejected (keyHash validation)") {
    val hA = Hll.empty(10); val hB = Hll.empty(10)
    (1 to 100).foreach(i => Hll.addHash(hA, 10, SipHash.hashInt(1, 2, i)))
    (1 to 100).foreach(i => Hll.addHash(hB, 10, SipHash.hashInt(3, 4, i)))
    val hllMerge = new graft.plans.DirectSketchAgg(
      graft.operators.SketchKinds.HllKind(1, 2, 10), org.apache.spark.sql.types.BinaryType)
    assertThrows[IllegalArgumentException](
      hllMerge.reduce(hllMerge.reduce(hllMerge.zero, Hll.toBytes(hA, 10, 1L, 111L)),
        Hll.toBytes(hB, 10, 1L, 222L)))
    val cmsA = CmsConfig(1, 2, 5, 11); val cmsB = CmsConfig(3, 4, 5, 11)
    val bufA = CountMin.empty(cmsA); val bufB = CountMin.empty(cmsB)
    CountMin.addInt(bufA, cmsA, 7); CountMin.addInt(bufB, cmsB, 7)
    val cmsMerge = new graft.plans.DirectSketchAgg(
      graft.operators.SketchKinds.Cms(cmsA), org.apache.spark.sql.types.BinaryType)
    assertThrows[IllegalArgumentException](
      cmsMerge.reduce(cmsMerge.reduce(cmsMerge.zero, CountMin.toBytes(bufA, cmsA, 1L)),
        CountMin.toBytes(bufB, cmsB, 1L)))
  }

  test("KLL: rng state survives serialization (no offset replay after resume)") {
    val a = new KllSketch(64)
    (1 to 5000).foreach(x => a.add(x.toDouble))
    val restored = Kll.fromBytes(a.toBytes)
    // continuing both must stay in lockstep: identical further behavior
    (5001 to 8000).foreach { x => a.add(x.toDouble); restored.add(x.toDouble) }
    assert(a.toBytes.sameElements(restored.toBytes),
      "resumed sketch diverged from the original -> rng state was lost in ser/de")
  }

  test("t-digest: serialization roundtrip") {
    val d = new TDigest(100)
    (1 to 5000).foreach(x => d.add(x.toDouble))
    val back = TDigest.fromBytes(d.toBytes)
    assert(math.abs(back.n - d.n) < 1e-9)
    for (q <- Seq(0.1, 0.5, 0.9)) assert(back.quantile(q) === d.quantile(q))
  }
}
