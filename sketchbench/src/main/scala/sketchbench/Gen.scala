package sketchbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Everything the library receives is derived from
  * the seed here; the library itself never sees the seed.
  *
  * Token ids are Zipf ranks + 1 (1..vocab), so ids above `vocab` are never
  * inserted anywhere and serve as the false-positive probe keys. Sources are
  * Zipf-skewed too, so per-source sketch sizes and task times are uneven,
  * the way a real crawl mix is. */
object Gen {

  /** Inverse-CDF Zipf sampler over ranks 0..n-1 with exponent `s`. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += math.pow(i + 1.0, -s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  final case class Doc(id: String, source: String, tokens: Array[Int])

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def sourceNames(n: Int): Array[String] = Array.tabulate(n)(i => f"src$i%02d")

  /** Doc length uniform in [avg/2, 3avg/2]. */
  def tokens(r: SplittableRandom, avgLen: Int, vocab: Zipf): Array[Int] = {
    val len = avgLen / 2 + r.nextInt(avgLen + 1)
    Array.fill(len)(vocab.sample(r) + 1)
  }

  /** Zipf tokens, Zipf-skewed sources. */
  def corpus(r: SplittableRandom, nDocs: Int, avgLen: Int, vocab: Zipf,
      sources: Array[String], idPrefix: String): Array[Doc] = {
    val srcZipf = new Zipf(sources.length, 1.0)
    Array.tabulate(nDocs)(i =>
      Doc(f"$idPrefix$i%07d", sources(srcZipf.sample(r)), tokens(r, avgLen, vocab)))
  }

  /** Decontamination input: a train corpus plus an `eval` source, with a
    * share of train docs carrying a span copied from a random eval doc. */
  def contaminated(r: SplittableRandom, nTrain: Int, nEval: Int, avgLen: Int,
      vocab: Zipf, sources: Array[String], evalSource: String,
      plantShare: Double, span: Int): Array[Doc] = {
    val train = corpus(r, nTrain, avgLen, vocab, sources, "t")
    val eval = Array.tabulate(nEval)(i => Doc(f"e$i%07d", evalSource, tokens(r, avgLen, vocab)))
    train.foreach { d =>
      if (r.nextDouble() < plantShare) {
        val e = eval(r.nextInt(nEval)).tokens
        val n = math.min(span, math.min(e.length, d.tokens.length))
        val from = r.nextInt(e.length - n + 1)
        val to = r.nextInt(d.tokens.length - n + 1)
        System.arraycopy(e, from, d.tokens, to, n)
      }
    }
    train ++ eval
  }

  /** Text rendering of a token id: one space-free word per id. */
  def word(id: Int): String = "w" + id

  def text(tokens: Array[Int]): String = tokens.map(word).mkString(" ")

  /** Word-trigram shingle set, the unit the library's MinHash verifies on. */
  def shingles(tokens: Array[Int], n: Int): Set[String] =
    if (tokens.length <= n) Set(tokens.mkString(" "))
    else tokens.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** Near-dup corpus: singleton docs plus planted clusters, each a head doc
    * and its copies with one or two words replaced. Cluster sizes are
    * heavy-tailed (P(copies >= x) ~ x^-1.2, capped), so a few clusters are
    * large, the shape that skews LSH buckets and connected-components
    * rounds. Every copy is kept at word-trigram Jaccard >= `minJaccard` to
    * its head, so LSH recovers it with near certainty and the expected
    * kept-doc count is exact. Returns the docs and the planted
    * (head, copy) id pairs. */
  def nearDups(r: SplittableRandom, nSingles: Int, nClusters: Int, maxCopies: Int,
      avgLen: Int, vocab: Zipf, sources: Array[String],
      minJaccard: Double): (Array[Doc], Array[(String, String)]) = {
    val docs = mutable.ArrayBuffer.empty[Doc]
    val pairs = mutable.ArrayBuffer.empty[(String, String)]
    val srcZipf = new Zipf(sources.length, 1.0)
    var next = 0
    def newId(): String = { val id = f"d$next%07d"; next += 1; id }
    for (_ <- 0 until nSingles)
      docs += Doc(newId(), sources(srcZipf.sample(r)), tokens(r, avgLen, vocab))
    for (c <- 0 until nClusters) {
      // fixed-length heads: the largest clusters carry most of the pair
      // work, which must not swing with one random length
      val head = Doc(newId(), sources(srcZipf.sample(r)), Array.fill(avgLen)(vocab.sample(r) + 1))
      docs += head
      val headSh = shingles(head.tokens, 3)
      // sizes at the distribution's quantiles, not sampled: every seed
      // plants the same multiset of cluster sizes, so the work is the same
      val copies = math.min(maxCopies, math.floor(math.pow((c + 0.5) / nClusters, -1.0 / 1.2)).toInt)
      for (_ <- 0 until copies) {
        var copy: Array[Int] = null
        while (copy == null) {
          val c = head.tokens.clone()
          for (_ <- 0 until 1 + r.nextInt(2)) c(r.nextInt(c.length)) = vocab.sample(r) + 1
          if (jaccard(shingles(c, 3), headSh) >= minJaccard) copy = c
        }
        val d = Doc(newId(), head.source, copy)
        docs += d
        pairs += ((head.id, d.id))
      }
    }
    // shuffle so clusters do not sit in one input partition
    val arr = docs.toArray
    var i = arr.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1 }
    (arr, pairs.toArray)
  }
}
