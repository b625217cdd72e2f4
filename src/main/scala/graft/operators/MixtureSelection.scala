package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Budgeted mixture selection — enforcing a training-mixture recipe: per
  * source, select documents in deterministic (doc_id) order until the
  * source's token budget is reached. The budget is the rational fraction
  * `num/den` of the source's total token mass, and the selection
  * predicate is kept in pure integer cross-multiplication
  * (`cum * den <= total * num`) so there is NO division or float anywhere
  * — any SQL engine reproduces the exact same selected set.
  *
  * Upstream ordering is the caller's policy knob: feed doc_id order for
  * reproducible "first-N-tokens" selection (this operator), or feed the
  * deterministic weighted-sample order ([[graft.core.BottomK]] ES keys)
  * for probability-proportional selection — the budget scan is the same.
  *
  * Scale shape — a TWO-LEVEL distributed prefix scan, not one window per
  * source (a naive `Window.partitionBy(source)` serializes an entire
  * source into one task, which dies at 100 TB where a source is
  * terabytes): (1) per-(source, shard) subtotals, shard = doc_id /
  * shardDocs — one partial-agg pass, output one row per shard; (2) the
  * per-source running OFFSET over those subtotal rows — a window over
  * summaries (docs/shardDocs rows), ~10^5 smaller than the data; (3) a
  * LOCAL window per (source, shard) plus the shard's offset — fully
  * parallel, skew-free by construction (a shard is <= shardDocs docs).
  * The global cumulative sum is associative, so the result is
  * value-identical to the single-window formulation (tested). */
object MixtureSelection {

  /** Per-doc selection flags: adds `tok_total` (source token mass), `cum`
    * (running mass through this doc in doc_id order), and `selected`.
    * `docs` needs doc_id (castable to long), source, and a long `tokCol`. */
  def withMixtureSelection(docs: DataFrame, tokCol: String,
      num: Long, den: Long, shardDocs: Long = 1L << 16): DataFrame = {
    require(shardDocs > 0, s"shardDocs must be positive, got $shardDocs")
    // integer `div`: exact for ids above 2^53 (same rule as SequencePacking)
    budgetScan(docs, tokCol,
      expr(s"cast(doc_id as bigint) div ${shardDocs}L"), Seq(col("doc_id")), num, den)
  }

  /** PROBABILITY-PROPORTIONAL (Efraimidis–Spirakis) selection order: docs
    * are scanned by ascending ES key -ln(u)/w (u deterministic from
    * SipHash(doc_id), w = the doc's token mass — [[graft.core.BottomK.esKey]]
    * semantics exactly), so the budget keeps a weighted sample WITHOUT
    * replacement of the source's documents rather than its first ids.
    * Requires positive weights; a w <= 0 doc's key degenerates to +Inf/NaN
    * bits, ordering LAST (zero sampling mass — callers normally filter).
    *
    * Shard key for the two-level scan: the key's IEEE-754 bits (non-negative
    * doubles order like their bits — `graft_double_bits`) divided by
    * 2^shardBits, a MONOTONE coarsening of the scan order. Each binade
    * splits into 2^(52-shardBits) buckets, so with the default 40 the bulk
    * binades of the exponential key distribution split ~4096-way — no
    * single-task windows, same skew-free shape as the doc_id path. */
  def withMixtureSelectionWeighted(docs: DataFrame, tokCol: String,
      num: Long, den: Long, shardBits: Int = 40): DataFrame = {
    require(shardBits >= 0 && shardBits < 63, s"shardBits must be in [0, 63), got $shardBits")
    budgetScan(withEsBits(docs, tokCol), tokCol,
      expr(s"es_bits div ${1L << shardBits}L"), Seq(col("es_bits"), col("doc_id")), num, den)
  }

  /** Adds `es_bits: bigint` — the ES key's IEEE-754 bits over
    * (SipHash(doc_id), weight = tokCol). Public so gates can recompute the
    * order independently. u in (0, 1] from the top 53 hash bits; log() is
    * StrictMath.log in both Spark eval and codegen == [[graft.core.BottomK
    * .esKey]]'s StrictMath.log, so these keys are BIT-IDENTICAL to the
    * weighted sampling aggregator's. */
  def withEsBits(docs: DataFrame, tokCol: String): DataFrame = {
    val h = graft.plans.GraftFunctions.sipHash64(col("doc_id").cast("long"))
    val u = (shiftrightunsigned(h, 11) + lit(1L)).cast("double") / lit(9007199254740992.0)
    // w <= 0 docs clamp to +Infinity — ordering LAST with zero sampling
    // mass, as the weighted-selection scaladoc promises (ADVICE r6: an
    // unclamped negative weight gave a negative key whose IEEE-754 bits
    // sort FIRST and in reversed order, silently breaking the scan order
    // and budgetScan's monotone-shard invariant; w == 0 already divided to
    // +Inf, so only w < 0 changes, and the declared query filters w > 0)
    docs.withColumn("es_bits",
      graft.plans.GraftFunctions.doubleBits(
        when(col(tokCol).cast("double") <= 0.0, lit(Double.PositiveInfinity))
          .otherwise(-log(u) / col(tokCol).cast("double"))))
  }

  /** The shared TWO-LEVEL distributed prefix scan: `shardCol` must be a
    * monotone non-decreasing function of the `orderCols` scan order (equal
    * shard => contiguous run of the order), which is what makes shard
    * subtotal offsets + local windows equal the global running sum. */
  private def budgetScan(docs: DataFrame, tokCol: String, shardCol: Column,
      orderCols: Seq[Column], num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"budget fraction must satisfy 0 <= num <= den, got $num/$den")
    val sharded = docs.withColumn("graft_shard", shardCol)
    // (1) one row per (source, shard): subtotal of the shard's token mass
    val sub = sharded.groupBy(col("source"), col("graft_shard"))
      .agg(sum(col(tokCol)).cast("long").as("shard_tok"))
    // (2) prefix offsets over the SUMMARY rows (tiny relative to docs) +
    // the per-source totals from the same frame — no second scan
    val offsetsW = Window.partitionBy(col("source")).orderBy(col("graft_shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = sub
      .withColumn("shard_offset",
        (sum(col("shard_tok")).over(offsetsW) - col("shard_tok")).cast("long"))
      .withColumn("tok_total",
        sum(col("shard_tok")).over(Window.partitionBy(col("source"))).cast("long"))
      .select(col("source"), col("graft_shard"), col("shard_offset"), col("tok_total"))
    // (3) local prefix scan per (source, shard) — parallel and bounded
    val localW = Window.partitionBy(col("source"), col("graft_shard"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .join(offsets, Seq("source", "graft_shard"))
      .withColumn("cum",
        (col("shard_offset") + sum(col(tokCol)).over(localW)).cast("long"))
      .withColumn("selected", dec(col("cum")) * den <= dec(col("tok_total")) * num)
      .drop("graft_shard", "shard_offset")
  }

  /** The cross-multiplication operands are bounded by the source's total
    * token mass (~1e14 at 100 TB) TIMES an arbitrary caller-supplied
    * `num`/`den` — a bigint product that can exceed Long silently (wrapped
    * negatives would quietly flip `selected`). DECIMAL(38,0) exactly covers
    * every Long x Long product (max ~8.5e37 < 1e38), keeps the predicate
    * pure integer arithmetic, and stays SQL-engine portable (DuckDB
    * reproduces it with HUGEINT/DECIMAL — the fixture oracle's BIGINT
    * math agrees wherever it doesn't overflow). */
  private[graft] def dec(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** Per-source selection report (every cell integer-exact): doc counts,
    * selected token mass, the budget bound as the `num/den` fraction
    * check, and `prefix_tight` — whether even the smallest unselected doc
    * would bust the budget. NOT always true: the selection is a prefix
    * (first-N-tokens in order), not a bin-packing, so a later small doc
    * can still fit; the column is a data-dependent diagnostic the oracle
    * recomputes exactly. */
  def mixtureReport(docs: DataFrame, tokCol: String,
      num: Long, den: Long, shardDocs: Long = 1L << 16): DataFrame =
    withMixtureSelection(docs, tokCol, num, den, shardDocs)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("selected"), col(tokCol)).otherwise(0L)).cast("long").as("tok_selected"),
        max(col("tok_total")).as("tok_total"),
        // within budget: tok_selected * den <= tok_total * num (DECIMAL(38)
        // cross-multiplication — see `dec`; overflow-proof at any Long scale)
        (dec(sum(when(col("selected"), col(tokCol)).otherwise(0L)).cast("long")) * den <=
          dec(max(col("tok_total"))) * num).as("within_budget"),
        // min() skips the nulls of selected rows; a fully-selected
        // source yields null -> true
        coalesce(
          dec(sum(when(col("selected"), col(tokCol)).otherwise(0L)).cast("long") +
            min(when(!col("selected"), col(tokCol)))) * den >
            dec(max(col("tok_total"))) * num,
          lit(true)).as("prefix_tight"))
      .orderBy(col("source"))
}
