package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.BloomConfig

/** Train/eval n-gram DECONTAMINATION — the canonical LLM-training-pipeline
  * use of a Bloom filter (the reference's membership sketch in its natural
  * production role, cf. /root/reference/README.md:1-9's "set-like" framing):
  * flag every training document that shares at least one token n-gram with a
  * held-out evaluation source, so contaminated documents can be dropped
  * before training.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - eval side: one selective scan -> map-side per-doc gram dedup ->
  *     distinct -> a single Bloom sketch + a small distinct-gram frame.
  *     Benchmark/eval sets are tiny relative to the corpus by construction.
  *   - train side: map-side gram explode, then [[BloomJoin.semi]]: the
  *     Bloom PREFILTER drops ~everything before any join (uncontaminated
  *     grams never shuffle), and the exact confirmation is a BROADCAST
  *     left-semi join against the eval gram set — exact regardless of
  *     Bloom false positives, with zero train-side shuffle until the
  *     per-doc rollup of the (rare) surviving hits.
  *
  * Gram identity is the n consecutive token ids joined with '|' — injective
  * (ids render without '|'), so hash collisions cannot create false
  * contamination: the Bloom only prunes, the string-equality join decides.
  */
object Decontamination {

  /** (doc_id, source, gram) rows, one per DISTINCT n-gram per document.
    * The per-doc dedup is `array_distinct` BEFORE the explode — map-side,
    * no global distinct shuffle. Built-in expressions throughout;
    * the single lambda body (slice + concat_ws per window) is a light
    * kernel, nothing like the winnowing char-fold whose measured ~12x
    * justified an imperative kernel there (BASELINE.md, winnowing
    * boundary). */
  def gramRows(tokens: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n-gram decontamination needs n >= 1, got n=$n")
    val f = udf { (ts: Array[Int]) => gramStrings(ts, n) }
    // explode_outer + not-null instead of where(size >= n) + explode
    // (optimization r07): the where and the optimizer's generate-filter
    // inference each re-evaluated the tokenization (and the inference the
    // gram UDF too) — three tokenize + two kernel runs per document for
    // one logical pass. gramStrings already returns an empty array below
    // n tokens, so the size guard was semantically redundant; the outer
    // explode turns empty/null into one null-gram row the cheap column
    // filter drops.
    tokens
      .select(col("doc_id"), col("source"), explode_outer(f(col("tokens"))).as("gram"))
      .where(col("gram").isNotNull)
  }

  /** Pure-expression twin of [[gramRows]], value-identical per doc
    * (asserted by PipelineSpec). Kept as the oracle-parity reference; the
    * UDF kernel is the default on a measured win (see BASELINE.md, the
    * winnowing rule again: `transform` lambdas never codegen, so the
    * per-window slice+concat runs interpreted). */
  private[graft] def gramRowsHof(tokens: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n-gram decontamination needs n >= 1, got n=$n")
    val asStr = transform(col("tokens"), t => t.cast("string"))
    val grams = array_distinct(transform(
      sequence(lit(0), size(col("tokens")) - lit(n)),
      i => concat_ws("|", slice(asStr, i + lit(1), lit(n)))))
    tokens
      .where(size(col("tokens")) >= n)
      .select(col("doc_id"), col("source"), explode(grams).as("gram"))
  }

  /** Imperative gram kernel: the n-token windows of one document rendered
    * as '|'-joined id strings, first-occurrence-deduped — the same values
    * in the same order as the HOF pipeline's
    * `array_distinct(transform(...))`. One pass, one StringBuilder. */
  private[graft] def gramStrings(tokens: Array[Int], n: Int): Array[String] = {
    if (tokens == null || tokens.length < n) return Array.empty[String]
    val set = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(8 * n)
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append('|')
        sb.append(tokens(i + j))
        j += 1
      }
      set.add(sb.toString)
      i += 1
    }
    val out = new Array[String](set.size)
    val it = set.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Per train-source contamination report against `evalSource`:
    * (source, n_docs, n_contam_docs, n_hits) where n_hits counts distinct
    * (document, gram) pairs whose gram occurs anywhere in the eval source.
    * Exact — the Bloom is a pruning prefilter only. */
  def decontaminate(tokens: DataFrame, evalSource: String, n: Int,
      cfg: BloomConfig): DataFrame =
    contaminated(tokens, evalSource, n, cfg)(report(tokens, evalSource, _))

  /** `use` applied to the contaminated (doc_id, source, gram) rows of the
    * train sources, through [[BloomJoin.semi]]: the distinct eval grams
    * build the filter and are the broadcast build side of the exact
    * confirm. Serves [[decontaminate]] and the curation funnel's drop-set. */
  private[graft] def contaminated(tokens: DataFrame, evalSource: String, n: Int,
      cfg: BloomConfig)(use: DataFrame => DataFrame): DataFrame = {
    val grams = gramRows(tokens, n)
    BloomJoin.semi(grams.where(col("source") =!= evalSource), "gram",
      grams.where(col("source") === evalSource).select(col("gram")).distinct(), "gram", cfg)(use)
  }

  /** The per-source report of [[decontaminate]] over its hit rows. */
  private[graft] def report(tokens: DataFrame, evalSource: String, hits: DataFrame): DataFrame = {
    val perSourceHits = hits
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_contam_docs"),
        count(lit(1)).as("n_hits"))
    tokens.where(col("source") =!= evalSource)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(perSourceHits, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("source"))
  }

  /** The exact twin with NO Bloom prefilter — test-only soundness control:
    * must return byte-identical counts to [[decontaminate]] (the prefilter
    * may only prune, never decide). */
  private[graft] def decontaminateExact(tokens: DataFrame, evalSource: String,
      n: Int): DataFrame = {
    val grams = gramRows(tokens, n)
    val evalGrams = grams.where(col("source") === evalSource)
      .select(col("gram")).distinct()
    val hits = grams.where(col("source") =!= evalSource)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_contam_docs"),
        count(lit(1)).as("n_hits"))
    tokens.where(col("source") =!= evalSource)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(hits, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("source"))
  }
}
