package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Byte-pair-encoding MERGE APPLICATION — the operator between raw text
  * and a trainer's `tokens` column that the pipeline previously assumed:
  * given a learned merges table (symbol pair -> rank), encode each
  * [[TextPipeline.BpeIshPattern]] pre-token by repeatedly merging the
  * adjacent pair with the LOWEST rank (all occurrences, leftmost-first)
  * until no ranked pair remains — the standard greedy BPE encoder
  * (Sennrich et al. 2016 §3.2).
  *
  * Engine-portable oracle semantics: greedy lowest-rank-first encoding is
  * VALUE-EQUAL to applying the merges sequentially in rank order, each
  * exhaustively (one left-to-right pass), because merging rank r creates
  * only pairs that contain the new token xy, and any merge involving xy
  * must have been learned AFTER r — so no merge can resurrect a lower
  * rank, and one pass per rank suffices (merging (x,y) cannot create a
  * new (x,y): that would need y == xy or x == xy). The DuckDB oracle
  * exploits this: each word becomes a 0x01-bounded symbol string and each
  * merge a literal `replace()` — applied TWICE per rank, because string
  * replacement is weaker than the list pass on ADJACENT occurrences: in
  * `x y x y` the first replacement consumes the boundary byte the second
  * occurrence needs, so one pass merges only the odd-indexed occurrences
  * of a run. Each survivor is then isolated between merged tokens (fully
  * re-bounded), so the second pass merges them all, and a third pass can
  * never match. This equivalence requires every merge's LEFT != RIGHT
  * (all of [[FixtureMerges]]; enforced by `rankMap`): for a
  * self-pair like (x, x), occurrences OVERLAP and the string replay's
  * leftmost-nonoverlap choice can differ from the list pass's (`x x x x x`
  * tokenizes xx|xx|x by the list pass but xx|x|xx by the replay). The
  * greedy kernel itself has no such restriction — only the string-replay
  * oracle does.
  *
  * Scale shape: a pure map-side projection (one kernel UDF per row, merge
  * ranks broadcast via the task binary — a real vocab's ~50k merges is a
  * ~1 MB map, closure-shippable; a larger one would ride an explicit
  * broadcast). No shuffle anywhere.
  */
object Bpe {

  /** A tiny committed merges fixture over the corpus's English letter
    * distribution, in rank order. Every merged token's constituents exist
    * before its rank (the validity precondition of the sequential-replay
    * equivalence above). */
  val FixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("an", "d"), ("o", "n"), ("e", "n"), ("o", "r"), ("r", "e"),
    ("a", "t"), ("s", "t"))

  /** Compiled merge table — the OPTIMIZATION r07 (guide §1.2 per-task
    * work) twin of the greedy string kernel (kept as the test reference
    * `ReferenceTwins.encodeWord`), used by [[withBpeTokens]]:
    * symbols become canonical int ids (a single UTF-16 unit -> its char
    * code, 0..65535; a merge product -> 65536 + the FIRST rank producing
    * that string, so duplicate product strings share one id exactly as
    * string equality makes them one symbol), and pair ranks live in an
    * open-addressed long->int table keyed `leftId << 32 | rightId`. The
    * hot loop then does two array reads per adjacency instead of a String
    * concat + UTF-16 hash + boxed HashMap probe — the string kernel
    * allocated one pair-key String per adjacency per merge round.
    * Duplicate (left, right) pairs keep `HashMap.put` semantics (last
    * rank wins). Greedy semantics are value-identical to the string kernel
    * for any table whose symbols contain no space (the string kernel's
    * `a + " " + b` key is ambiguous there; id keys are not) — asserted by
    * PipelineSpec across the fixture, random words, and random valid
    * tables including self-pairs and duplicate products. */
  private[graft] final class CompiledMerges(merges: Seq[(String, String)]) extends Serializable {
    private val products: Array[String] = merges.map { case (a, b) => a + b }.toArray
    /** canonical id of the symbol the rank-r merge produces */
    private val resultIds = new Array[Int](products.length)
    // open-addressed long->int table; ids are < 2^17 so every key is
    // non-negative and -1 marks an empty slot. Capacity 4x entries keeps
    // the load factor <= 0.25; linear probing.
    private val cap: Int = {
      var c = 4
      while (c < merges.size * 4) c <<= 1
      c
    }
    private val mask = cap - 1
    private val keys = Array.fill[Long](cap)(-1L)
    private val vals = new Array[Int](cap)
    private def idx(k: Long): Int = (((k * 0x9E3779B97F4A7C15L) >>> 40) ^ k).toInt & mask
    // construction-only state stays local, so it does not ship with the
    // task closures that carry this table
    locally {
      val canonOf = new java.util.HashMap[String, Integer](products.length * 2)
      products.indices.foreach(r => canonOf.putIfAbsent(products(r), Integer.valueOf(65536 + r)))
      products.indices.foreach(r => resultIds(r) = canonOf.get(products(r)).intValue())
      def symId(s: String): Int =
        if (s.length == 1) s.charAt(0).toInt
        else {
          val v = canonOf.get(s)
          require(v != null,
            s"BPE merge constituent '$s' is neither a single char nor a merge product")
          v.intValue()
        }
      merges.zipWithIndex.foreach { case ((a, b), r) =>
        val k = symId(a).toLong << 32 | symId(b).toLong
        var i = idx(k)
        while (keys(i) != -1L && keys(i) != k) i = (i + 1) & mask
        keys(i) = k; vals(i) = r
      }
    }
    /** rank of the (leftId, rightId) pair, Int.MaxValue when unlearned */
    private def rankOf(left: Int, right: Int): Int = {
      val k = left.toLong << 32 | right.toLong
      var i = idx(k)
      while (true) {
        if (keys(i) == k) return vals(i)
        if (keys(i) == -1L) return Int.MaxValue
        i = (i + 1) & mask
      }
      Int.MaxValue
    }
    private val asciiSyms: Array[String] = Array.tabulate(128)(c => String.valueOf(c.toChar))
    private def symString(id: Int): String =
      if (id >= 65536) products(id - 65536)
      else if (id < 128) asciiSyms(id)
      else String.valueOf(id.toChar)
    /** Greedy-encode one pre-token, appending the final symbol strings to
      * `out`. Identical merge rule to the string kernel: repeatedly merge all
      * occurrences (leftmost-first, non-overlapping) of the lowest-ranked
      * pair present. The merge pass rewrites the id array IN PLACE (writes
      * land strictly below the read cursor). */
    private[graft] def encodeInto(word: String, out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      val len = word.length
      if (len == 0) return
      val ids = new Array[Int](len)
      var i = 0
      while (i < len) { ids(i) = word.charAt(i).toInt; i += 1 }
      var n = len
      while (n > 1) {
        var best = Int.MaxValue
        var bi = 0
        while (bi < n - 1) {
          val r = rankOf(ids(bi), ids(bi + 1))
          if (r < best) best = r
          bi += 1
        }
        if (best == Int.MaxValue) { var e = 0; while (e < n) { out += symString(ids(e)); e += 1 }; return }
        val res = resultIds(best)
        var o = 0
        var j = 0
        while (j < n) {
          if (j < n - 1 && rankOf(ids(j), ids(j + 1)) == best) { ids(o) = res; j += 2 }
          else { ids(o) = ids(j); j += 1 }
          o += 1
        }
        n = o
      }
      var e = 0
      while (e < n) { out += symString(ids(e)); e += 1 }
    }
  }

  /** Boxed Integer values, NOT Int: `HashMap[String, Int].get` on a missing
    * key would auto-unbox null to 0 — a VALID rank — silently merging
    * unlearned pairs. Self-pairs (left == right) are rejected here because
    * the SQL-replay oracle is only exact for disjoint-occurrence merges
    * (see the object scaladoc); real tokenizers' repeated-character merges
    * would need a dedicated oracle before lifting this. */
  private def rankMap(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    // constructive validity check (ADVICE r6): each constituent must be a
    // single character or the concatenation produced by an earlier-ranked
    // merge — the precondition the sequential/string-replay oracle
    // equivalence rests on. An invalid future edit to FixtureMerges now
    // fails HERE with the offending pair named, not as an opaque oracle
    // mismatch at gate time.
    val produced = new java.util.HashSet[String]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      require(a.nonEmpty && b.nonEmpty, "BPE merge symbols must be non-empty")
      require(a != b, s"BPE merge ($a, $b): self-pairs are outside the SQL-replay contract")
      def valid(s: String): Boolean = s.length == 1 || produced.contains(s)
      require(valid(a) && valid(b),
        s"BPE merge #$r ($a, $b): constituent ${if (valid(a)) b else a} is neither a " +
          "single character nor the product of an earlier-ranked merge")
      produced.add(a + b)
      m.put(a + " " + b, Integer.valueOf(r))
    }
    m
  }

  /** Adds `bpe_tokens: array<string>` — the concatenated greedy-BPE
    * encodings of the text's regex pre-tokens. The kernel is an imperative
    * UDF by the measured text-kernel rule (the merge loop IS the cost; the
    * encoder boundary is the small share — see BASELINE.md). */
  def withBpeTokens(docs: DataFrame, textCol: String = "text",
      merges: Seq[(String, String)] = FixtureMerges): DataFrame = {
    rankMap(merges) // constructive table validation (the compiled twin assumes it)
    val compiled = new CompiledMerges(merges)
    val pattern = java.util.regex.Pattern.compile(TextPipeline.BpeIshPattern)
    val f = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val out = new scala.collection.mutable.ArrayBuffer[String]()
        val m = pattern.matcher(text)
        while (m.find()) compiled.encodeInto(m.group(), out)
        out.toArray
      }
    }
    docs.withColumn("bpe_tokens", f(col(textCol)))
  }

  /** Pre-token character mass (merge accounting: every merge reduces the
    * symbol count by exactly one, so chars - bpe_tokens = merges applied). */
  def preTokenChars(textCol: Column): Column =
    length(array_join(TextPipeline.regexTokens(textCol), ""))
}
