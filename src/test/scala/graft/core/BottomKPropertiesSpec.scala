package graft.core

import org.scalacheck.{Gen, Prop, Properties}

import BottomK.{LongValues, SerialVersion, SerialVersionWeighted}

/** ScalaCheck properties for the bottom-k value sample: for ARBITRARY
  * element multisets, capacities, splits, and orders, the retained
  * (hash, value) pairs must be exactly the bottom-k of the distinct set
  * keyed by hash (the invariant that makes the sample uniform AND
  * deterministic), merges must be order-insensitive, and serialization
  * lossless. */
object BottomKPropertiesSpec extends Properties("BottomK") {

  private val k0 = 0x5eedf00ddeadbeefL
  private val k1 = 0x0123456789abcdefL

  private val genK: Gen[Int] = Gen.oneOf(1, 4, 16, 64, 256)

  private val genElems: Gen[List[Long]] = for {
    n <- Gen.choose(0, 3000)
    xs <- Gen.listOfN(n, Gen.choose(0L, 2000L))
  } yield xs

  private def truth(xs: Seq[Long], k: Int): Seq[(Long, Long)] =
    xs.distinct.map(x => (SipHash.hashLong(k0, k1, x), x))
      .sortBy(_._1)(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
      .take(k)

  private def build(xs: Seq[Long], k: Int): (Array[Long], Array[Long], Int) = {
    val (h, v) = BottomK.emptyBuffers(k)
    var s = 0
    xs.foreach(x => s = BottomK.add(h, v, s, SipHash.hashLong(k0, k1, x), x))
    (h, v, s)
  }

  property("retained pairs ARE the hash-bottom-k of the distinct set, any input") =
    Prop.forAll(genK, genElems) { (k, xs) =>
      val (h, v, s) = build(xs, k)
      val expect = truth(xs, k)
      Prop(s == expect.length &&
        h.take(s).sameElements(expect.map(_._1)) &&
        v.take(s).sameElements(expect.map(_._2))) :| s"k=$k n=${xs.size}"
    }

  property("split + merge + byte roundtrip equals single build, any split count") =
    Prop.forAll(genK, genElems, Gen.choose(1, 9)) { (k, xs, parts) =>
      val keyHash = SipHash.hashLong(k0, k1, k0 ^ k1)
      val partials = xs.zipWithIndex.groupBy(_._2 % parts).toSeq.sortBy(_._1).map { case (_, chunk) =>
        val (h, v, s) = build(chunk.map(_._1), k)
        val (h2, v2, s2, _, _) =
          BottomK.fromBytes(BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, keyHash, SerialVersion, LongValues),
            SerialVersion, LongValues)
        (h2, v2, s2)
      }
      val (mh, mv, ms) = partials
        .reduceOption { (a, b) => BottomK.merge(a._1, a._2, a._3, b._1, b._2, b._3) }
        .getOrElse { val (h, v) = BottomK.emptyBuffers(k); (h, v, 0) }
      val expect = truth(xs, k)
      Prop(ms == expect.length &&
        mh.take(ms).sameElements(expect.map(_._1)) &&
        mv.take(ms).sameElements(expect.map(_._2))) :| s"k=$k parts=$parts"
    }

  property("insertion order never changes the sample") =
    Prop.forAll(genK, genElems, Gen.choose(Long.MinValue, Long.MaxValue)) { (k, xs, seed) =>
      val (h1, v1, s1) = build(xs, k)
      val (h2, v2, s2) = build(new scala.util.Random(seed).shuffle(xs), k)
      Prop(s1 == s2 && h1.take(s1).sameElements(h2.take(s2)) &&
        v1.take(s1).sameElements(v2.take(s2)))
    }

  property("the sample is a subset of the inserted distinct values") =
    Prop.forAll(genK, genElems) { (k, xs) =>
      val (_, v, s) = build(xs, k)
      val set = xs.toSet
      Prop(v.take(s).forall(set.contains))
    }

  // -------------------------------------------- ES-weighted sample (v2)

  private def buildWeighted(elems: Seq[(Long, Double)], k: Int,
      kk0: Long): (Array[Long], Array[Long], Int) = {
    val (h, v) = BottomK.emptyBuffers(k)
    var s = 0
    elems.foreach { case (x, w) =>
      s = BottomK.add(h, v, s, BottomK.esKey(SipHash.hashLong(kk0, k1, x), w), x,
        BottomK.cmpLong)
    }
    (h, v, s)
  }

  private val genWeighted: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(0, 400)
    xs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 300L), Gen.choose(1, 20).map(_.toDouble)))
  } yield xs.distinctBy(_._1) // weight is a function of the value

  property("weighted retained pairs ARE the es-key bottom-k of the distinct set") =
    Prop.forAll(genK, genWeighted) { (k, xs) =>
      val (h, v, s) = buildWeighted(xs, k, k0)
      val expect = xs
        .map { case (x, w) => (BottomK.esKey(SipHash.hashLong(k0, k1, x), w), x) }
        .sorted // (key, value) pair order; keys are non-negative double bits
        .take(k)
      Prop(s == expect.length &&
        h.take(s).sameElements(expect.map(_._1)) &&
        v.take(s).sameElements(expect.map(_._2))) :| s"k=$k n=${xs.size}"
    }

  property("weighted k=1 inclusion tracks w/sum(w) within 5 sigma, any weight vector") =
    Prop.forAll(Gen.listOfN(5, Gen.choose(1, 10).map(_.toDouble))) { ws =>
      val trials = 1500
      val wins = new Array[Int](ws.length)
      var t = 0
      while (t < trials) {
        val kk0 = k0 + (t + 1) * 0x9e3779b97f4a7c15L
        val (_, v, s) = buildWeighted(ws.indices.map(i => (i.toLong, ws(i))), 1, kk0)
        if (s == 1) wins(v(0).toInt) += 1
        t += 1
      }
      val total = ws.sum
      Prop(ws.indices.forall { i =>
        val p = ws(i) / total
        val sigma = math.sqrt(p * (1 - p) / trials)
        math.abs(wins(i).toDouble / trials - p) <= 5 * sigma + 0.005
      }) :| s"ws=$ws wins=${wins.toSeq}"
    }

  property("weighted insertion order and split/merge never change the sample") =
    Prop.forAll(genK, genWeighted, Gen.choose(1, 7)) { (k, xs, parts) =>
      val (h1, v1, s1) = buildWeighted(xs, k, k0)
      val partials = xs.zipWithIndex.groupBy(_._2 % parts).toSeq.sortBy(_._1).map { case (_, c) =>
        buildWeighted(c.map(_._1), k, k0)
      }
      val (mh, mv, ms) = partials
        .reduceOption { (a, b) => BottomK.merge(a._1, a._2, a._3, b._1, b._2, b._3) }
        .getOrElse { val (h, v) = BottomK.emptyBuffers(k); (h, v, 0) }
      Prop(s1 == ms && h1.take(s1).sameElements(mh.take(ms)) &&
        v1.take(s1).sameElements(mv.take(ms))) :| s"k=$k parts=$parts"
    }

  // ------------------------------------- model check of the bottom-k core
  //
  // KMV and the uniform and weighted samples share one insert and one
  // merge. The model below is written from the definitions: KMV and the
  // uniform sample keep the k smallest distinct keys by unsigned order;
  // the weighted sample keeps the k smallest distinct (key, value) pairs
  // by (unsigned key, value order). Keys come from a small pool (forced
  // ties, unsigned-order extremes); inputs are split at random points into
  // builds of mixed capacities and merged along a random tree.

  /** One bottom-k structure through its public API: `value(key, rnd)`
    * draws an entry's value (a function of the key for KMV and the uniform
    * samples, as SipHash makes it in use), `order` is the value order. */
  private final case class Structure[V](name: String, value: (Long, scala.util.Random) => V,
      order: (V, V) => Int, newValues: Int => Array[V],
      add: (Array[Long], Array[V], Int, Long, V) => Int,
      merge: (Array[Long], Array[V], Int, Array[Long], Array[V], Int) => (Array[Long], Array[V], Int),
      pairIdentity: Boolean)

  private val kmv = Structure[AnyRef]("KMV", (_, _) => null, (_, _) => 0, _ => null,
    (h, _, s, key, _) => Kmv.add(h, s, key),
    (ah, _, as, bh, _, bs) => { val (h, n) = Kmv.merge(ah, as, bh, bs); (h, null, n) }, pairIdentity = false)

  private def uniform[V](name: String, f: Long => V, order: (V, V) => Int,
      newValues: Int => Array[V]): Structure[V] =
    Structure[V](name, (key, _) => f(key), order, newValues,
      (h, v, s, key, x) => BottomK.add(h, v, s, key, x),
      (ah, av, as, bh, bv, bs) => BottomK.merge(ah, av, as, bh, bv, bs), pairIdentity = false)

  private def weighted[V](name: String, pool: IndexedSeq[V], order: (V, V) => Int,
      newValues: Int => Array[V]): Structure[V] =
    Structure[V](name, (_, rnd) => pool(rnd.nextInt(pool.length)), order, newValues,
      (h, v, s, key, x) => BottomK.add(h, v, s, key, x, order),
      (ah, av, as, bh, bv, bs) => BottomK.merge(ah, av, as, bh, bv, bs, order), pairIdentity = true)

  private def utf8(x: String): Array[Byte] = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private val structures: Seq[Structure[_]] = Seq(
    kmv,
    uniform[Long]("uniform long", key => key * 0x9e3779b97f4a7c15L + 7L, BottomK.cmpLong, new Array[Long](_)),
    uniform[Array[Byte]]("uniform string", key => utf8(key.toHexString), BottomK.cmpUtf8,
      new Array[Array[Byte]](_)),
    weighted[Long]("weighted long", (-3L to 3L), BottomK.cmpLong, new Array[Long](_)),
    weighted[Array[Byte]]("weighted string", Vector("", "a", "ab", "b", "\uFFFD", "\uD800\uDC00").map(utf8),
      BottomK.cmpUtf8, new Array[Array[Byte]](_)))

  /** The model: sort by (unsigned key, value), drop repeated identities,
    * keep the first k. */
  private def model[V](st: Structure[V], xs: Seq[(Long, V)], k: Int): Vector[(Long, V)] = {
    def cmp(a: (Long, V), b: (Long, V)): Int = {
      val c = java.lang.Long.compareUnsigned(a._1, b._1)
      if (c != 0) c else st.order(a._2, b._2)
    }
    xs.sortWith(cmp(_, _) < 0).foldLeft(Vector.empty[(Long, V)]) { (acc, e) =>
      if (acc.nonEmpty && acc.last._1 == e._1 && (!st.pairIdentity || cmp(acc.last, e) == 0)) acc
      else acc :+ e
    }.take(k)
  }

  private def matches[V](st: Structure[V], got: (Array[Long], Array[V], Int),
      want: Vector[(Long, V)]): Boolean = {
    val (h, v, s) = got
    s == want.length && want.indices.forall(i => h(i) == want(i)._1 &&
      (v == null || st.order(v(i), want(i)._2) == 0))
  }

  private val genKeys: Gen[Vector[Long]] = for {
    n <- Gen.choose(1, 40)
    pool <- Gen.listOfN(n, Gen.frequency(6 -> Gen.long, 1 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue)))
  } yield pool.toVector

  private def check[V](st: Structure[V]): Prop =
    Prop.forAllNoShrink(genKeys, Gen.choose(0, 300), Gen.listOfN(6, Gen.choose(4, 15)), Gen.long) {
      (pool, n, caps, seed) =>
        val rnd = new scala.util.Random(seed)
        val xs = Vector.fill(n) { val key = pool(rnd.nextInt(pool.length)); (key, st.value(key, rnd)) }
        def build(k: Int, part: Seq[(Long, V)]): (Array[Long], Array[V], Int) = {
          val h = new Array[Long](k)
          val v = st.newValues(k)
          var s = 0
          part.foreach { case (key, x) => s = st.add(h, v, s, key, x) }
          (h, v, s)
        }
        // random split points, one capacity per part
        val parts = 1 + rnd.nextInt(caps.length)
        val cuts = 0 +: Vector.fill(parts - 1)(rnd.nextInt(n + 1)).sorted :+ n
        val builds = (0 until parts).map { p =>
          val part = xs.slice(cuts(p), cuts(p + 1))
          (caps(p), part, build(caps(p), part))
        }
        val eachBuild = builds.forall { case (k, part, b) => matches(st, b, model(st, part, k)) }
        // a random merge tree over the builds, each merge in a random operand order
        var pending = builds.map(_._3).toVector
        while (pending.length > 1) {
          val (a, rest) = { val i = rnd.nextInt(pending.length); (pending(i), pending.patch(i, Nil, 1)) }
          val (b, others) = { val j = rnd.nextInt(rest.length); (rest(j), rest.patch(j, Nil, 1)) }
          val (l, r) = if (rnd.nextBoolean()) (a, b) else (b, a)
          pending = others :+ st.merge(l._1, l._2, l._3, r._1, r._2, r._3)
        }
        val kMin = caps.take(parts).min
        val want = model(st, xs, kMin)
        Prop(eachBuild && matches(st, pending.head, want) &&
          matches(st, build(kMin, rnd.shuffle(xs)), want)) :| s"${st.name} n=$n parts=$parts caps=$caps"
    }

  structures.foreach { st =>
    property(s"${st.name}: builds and random merge trees match the bottom-k model") = check(st)
  }
}
