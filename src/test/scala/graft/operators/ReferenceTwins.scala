package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Reference implementations that only tests compare against: each is a
  * second, independent formulation of a library kernel, kept so the
  * kernel's tests can assert value identity with it.
  *  - [[withWinnowFingerprintsHof]]: winnowing in built-in higher-order
  *    functions, the twin of `TextPipeline.withWinnowFingerprints`;
  *  - [[SrpChunker]]: SRP banding as a Scala UDF, the twin of the native
  *    `graft_srp_bands`;
  *  - [[encodeWord]]: the greedy string BPE kernel, the twin of
  *    `Bpe.CompiledMerges`.
  */
object ReferenceTwins {
  import TextPipeline.{WinnowP, winnowPows}
  import Similarity.{planeMatrix, srpBitsWith}

  /** Winnowing rolling-hash document fingerprints (Schleimer, Wilkerson &
    * Aiken's MOSS winnowing, SIGMOD'03): polynomial-hash every k-word
    * gram, slide a w-wide window over the gram-hash sequence and select
    * each window's minimum (rightmost position on ties); the document's
    * fingerprint set is the distinct selected hashes. Guarantee: any
    * shared run of >= w + k - 1 words between two documents produces at
    * least one shared fingerprint, at expected density 2/(w+1) — so this
    * detects PARTIAL overlap (a copied paragraph inside an otherwise
    * different document), which whole-document MinHash Jaccard cannot.
    *
    * Adds `fps: array<bigint>` (empty for docs with < k words; < w grams
    * winnow as a single window). Implementation is built-in higher-order
    * functions only (transform/aggregate/slice/array_min/array_position/
    * array_distinct) — a pure map-side projection, no UDF encoder
    * boundary, no shuffle; at 100 TB this runs inside the scan stage.
    * Word symbol = charwise (acc*31 + codepoint) mod P fold; gram hash =
    * sum_j sym_{i+j} * B^(k-1-j) mod P with a mod after every product.
    * The char fold reads code points via split("")+ascii, which agrees
    * with SQL engines' unicode() per character for ASCII/BMP text (the
    * fixture is pure ASCII — supplementary-plane text would fold per
    * UTF-16 code unit here but per code point in SQL). */
  def withWinnowFingerprintsHof(docs: DataFrame, textCol: String = "text",
      k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1, got k=$k w=$w")
    val P = lit(WinnowP)
    // B^(k-1-j) mod P for j = 0..k-1, exact in BigInt then narrowed
    val pows: Seq[Long] = winnowPows(k).toSeq
    val words = filter(split(col(textCol), " "), x => x =!= lit(""))
    val syms = transform(words, wrd =>
      aggregate(filter(split(wrd, ""), c => c =!= lit("")), lit(0L),
        (acc, c) => (acc * lit(31L) + ascii(c)) % P))
    val gramsOf = (sy: Column) =>
      when(size(sy) < k, array().cast("array<bigint>")).otherwise(
        transform(sequence(lit(1), size(sy) - (k - 1)), i =>
          pows.zipWithIndex.map { case (pw, j) =>
            (element_at(sy, (i + lit(j)).cast("int")) * lit(pw)) % P
          }.reduce(_ + _) % P))
    val fpsOf = (g: Column) =>
      when(size(g) === 0, array().cast("array<bigint>")).otherwise(
        array_distinct(transform(
          array_distinct(transform(sequence(lit(1), greatest(lit(1), size(g) - (w - 1))), s => {
            val sl = slice(g, s, lit(w))
            // rightmost position of the window minimum: s + |sl| - (first
            // index of the min in the REVERSED slice), all 1-based
            (s + size(sl) - array_position(reverse(sl), array_min(sl))).cast("int")
          })),
          p => element_at(g, p))))
    // Let-bind the intermediates as HOF lambda variables: gramsOf/fpsOf
    // reference their argument many times, and CollapseProject would
    // inline a withColumn'd intermediate into EVERY reference — measured
    // ~1000x re-evaluation (the whole char-fold re-run per window).
    // transform(array(x), v -> body) evaluates x exactly once per row and
    // binds it; element_at(..., 1) unwraps the singleton.
    val fps = element_at(
      transform(array(syms), sy =>
        element_at(transform(array(gramsOf(sy)), g => fpsOf(g)), 1)), 1)
    docs.withColumn("fps", coalesce(fps, array().cast("array<bigint>")))
  }

  /** SRP banding function with per-executor cached hyperplanes (the matrix
    * is deterministic from (plane, dim), so lazily building it per task is
    * safe; rebuilding it per ROW would cost b*dim SipHash calls each).
    * Production banding is the native `graft_srp_bands` expression
    * ([[graft.plans.SrpBandsExpr]]); this UDF remains as the bit-identity
    * test twin (its measured comparison is recorded in BASELINE.md). */
  class SrpChunker(b: Int, chunks: Int, bitsPerChunk: Int)
      extends (Array[Float] => Array[Int]) with Serializable {
    @transient private var planes: Array[Array[Double]] = _
    override def apply(emb: Array[Float]): Array[Int] = {
      if (planes == null || planes(0).length < emb.length) planes = planeMatrix(b, emb.length)
      val bits = srpBitsWith(emb, planes)
      Array.tabulate(chunks)(c => ((bits >>> (c * bitsPerChunk)) & ((1L << bitsPerChunk) - 1)).toInt)
    }
  }

  /** Greedy BPE encode of one pre-token: start from single characters,
    * repeatedly merge ALL occurrences (leftmost-first, non-overlapping) of
    * the present pair with the lowest rank. O(len^2 * distinct-pairs) worst
    * case on pathological words; linear-ish on natural text. */
  def encodeWord(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.isEmpty) return Array.empty[String]
    var syms = new Array[String](word.length)
    var i = 0
    while (i < word.length) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var n = syms.length
    while (n > 1) {
      // lowest-rank pair present
      var best = Int.MaxValue
      var bi = 0
      while (bi < n - 1) {
        val r = ranks.get(syms(bi) + " " + syms(bi + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        bi += 1
      }
      if (best == Int.MaxValue) return java.util.Arrays.copyOf(syms, n)
      // merge all occurrences of the best pair, leftmost-first
      val out = new Array[String](n)
      var o = 0
      var j = 0
      while (j < n) {
        if (j < n - 1 && {
          val r = ranks.get(syms(j) + " " + syms(j + 1)); r != null && r.intValue() == best
        }) {
          out(o) = syms(j) + syms(j + 1); j += 2
        } else {
          out(o) = syms(j); j += 1
        }
        o += 1
      }
      syms = out
      n = o
    }
    java.util.Arrays.copyOf(syms, n)
  }
}
