package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core._
import graft.plans.{GraftFunctions, NativeAggs}
import graft.operators.SketchKinds._
import graft.sources.Tokens

/** The driver-checkable query surface (SparkEntry.queries bodies).
  *
  * Design rule for oracles (FIXTURES.md §3): every query here returns values
  * that are EXACT despite being computed through sketches —
  *  - Bloom probed with its own inserted set returns exactly the inserted
  *    count (no false negatives, reference `Internal.hs:456-458`);
  *  - Bloom as a semi-join pre-filter followed by an exact join is exact
  *    regardless of false positives (the runtime-filter pattern);
  *  - estimate-valued sketches (HLL/CMS/KLL/t-digest) return a boolean
  *    "estimate within the published bound" per group, which is exact and
  *    deterministic (fixed key, fixed data).
  */
object SketchQueries {

  // fixed SipKey for the whole query surface (any fixed key works; the
  // reference's SipKey analogue) — single source of truth in core.Keys
  val K0: Long = graft.core.Keys.DefaultK0
  val K1: Long = graft.core.Keys.DefaultK1

  val bloomCfg: BloomConfig = BloomConfig(K0, K1, k = 3, log2l = 10)
  val hllP = 12
  val cmsCfg: CmsConfig = CmsConfig(K0, K1, depth = 5, log2Width = 11)
  val kllK = 200
  val tdigestDelta = 100.0

  val kmvK = 256

  // the query surface's sketches as native aggregates: each builds over
  // its value column and merges a column of its serialized sketches
  private def bloomAgg(c: Column) = NativeAggs.column(Bloom(bloomCfg), c)
  private def kmvAgg(c: Column) = NativeAggs.column(KmvKind(K0, K1, kmvK), c)
  private def hllAgg(c: Column) = NativeAggs.column(HllKind(K0, K1, hllP), c)
  private def cmsAgg(c: Column) = NativeAggs.column(Cms(cmsCfg), c)
  private def kllAgg(c: Column) = NativeAggs.column(KllKind(kllK), c)
  private def tdigestAgg(c: Column) = NativeAggs.column(TDigestKind(tdigestDelta), c)

  /** (source, token) occurrence rows. `explode_outer` + not-null filter
    * rather than plain `explode` (optimization r07): the optimizer's
    * generate-filter inference plus filter/projection substitution made
    * plain explode evaluate the WHOLE tokenization expression three times
    * per document (once in the inferred `size(...) > 0 AND isnotnull(...)`
    * filter, once in the project — measured 2x wall time, OPTIMIZATION_r07.md);
    * the outer variant skips the inference, and the cheap not-null filter
    * on the exploded COLUMN drops the same rows (token arrays never hold
    * null elements — the vocab map is total by construction; a null/empty
    * array yields one null-token row that the filter removes, exactly the
    * rows plain explode never emitted). */
  private def exploded(t: DataFrame): DataFrame =
    t.select(col("source"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull)

  /** Per-source Bloom sketches (the flagship build). */
  def perSourceBloom(t: DataFrame): DataFrame =
    t.groupBy(col("source")).agg(bloomAgg(col("tokens")).as("sketch"))

  // ------------------------------------------------------------ queries

  /** Build per-source Bloom filters, then probe every (source, token)
    * occurrence against its own source's sketch. No false negatives ⇒ the
    * per-source present-count equals the exact per-source token count. */
  def bloomProbeExact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    probeOwnSource(t, packOf(perSourceBloom(t), "sketch"))
  }

  /** The per-source filters of `sk` (columns `source`, `sketchCol`) as one
    * keyed pack, computed by the probing query itself (a scalar subquery):
    * the former broadcast join attached the sketch column to EVERY probe
    * row, costing O(sketch bytes) of copy + content-verify per row
    * (optimization guide §2.3 — move decisions to small rows, keep
    * payloads out of the per-row path). */
  private def packOf(sk: DataFrame, sketchCol: String): Column =
    sk.agg(GraftFunctions.bloomPack(col("source"), col(sketchCol))).scalar()

  /** Every (source, token) occurrence of `t` probed against its own
    * source's filter in `pack`, counted per source. */
  private def probeOwnSource(t: DataFrame, pack: Column): DataFrame =
    exploded(t)
      .where(GraftFunctions.bloomMightContainKeyed(pack, col("source"), col("token")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_present"))
      .orderBy(col("source"))

  /** The 128-BIT HASH PATH under the driver gate: k=11, log2l=12 needs
    * 6*11+12 = 78 hash bits, so build and probe run through
    * membershipWordAndBits128 (reference `Internal.hs:235-261`) end to
    * end. No false negatives ⇒ same exact per-source counts as the 64-bit
    * twin, same oracle. */
  def bloom128ProbeExact(spark: SparkSession, dir: String): DataFrame = {
    val cfg128 = BloomConfig(K0, K1, k = 11, log2l = 12)
    require(!cfg128.hash64Enough, "query must exercise the 128-bit path")
    val t = Tokens.table(spark, dir)
    // keyed pack instead of the sketch-column broadcast join — the 128-bit
    // config's 32 KB filters made the per-row copy+verify cost of the join
    // path 4x the 64-bit twin's (see packOf)
    probeOwnSource(t, packOf(t.groupBy(col("source"))
      .agg(NativeAggs.column(Bloom(cfg128), col("tokens")).as("sketch")), "sketch"))
  }

  /** The FLAGSHIP production build path under the driver correctness gate:
    * per-source fused Bloom+HLL+CMS, the native `SketchAgg` over
    * [[FusedTokens]] (ArrayData read in place — the path Bench measures at
    * 10^9 tokens), then probe the bloom member with every (source, token)
    * occurrence. No false negatives + byte-identity with the reference
    * aggregators (tested) ⇒ the per-source present-count equals the exact
    * token count, same oracle as q_bloom_probe_exact. */
  def fusedNativeProbeExact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    // keyed pack instead of the sketch-column broadcast join (see packOf)
    // — the fused struct's bloom member is extracted once per source, when
    // the pack is built, not per probe row
    probeOwnSource(t, packOf(t.groupBy(col("source"))
      .agg(NativeAggs.column(FusedTokens(bloomCfg, hllP, cmsCfg), col("tokens")).as("sk"))
      .select(col("source"), col("sk.bloom").as("sketch")), "sketch"))
  }

  /** Runtime-filter pattern (SURVEY.md §2.2 "Joins"), through
    * [[operators.BloomJoin.semi]]: the distinct tokens of lang='en' docs
    * build the Bloom, which prefilters every (source, token) pair before
    * the exact semi-join — exact results regardless of false positives. */
  def bloomPrefilterSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tokens.documents(spark, dir)
    val t = Tokens.table(spark, dir)
    val enDocIds = docs.where(col("lang") === "en").select(col("doc_id").cast("string").as("doc_id"))
    // explode_outer + not-null: one tokenize evaluation (see `exploded`)
    val enTokens = t.join(enDocIds, "doc_id")
      .select(explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull).distinct()
    operators.BloomJoin.semi(exploded(t).distinct(), "token", enTokens, "token", bloomCfg)(
      _.groupBy(col("source")).agg(count(lit(1)).as("n_shared")).orderBy(col("source")))
  }

  /** Merge all per-source sketches into one global filter (second-level
    * aggregation = the reference's unionInto as a distributed fold), then
    * probe the distinct-token universe: everything was inserted somewhere,
    * so the present-count is exactly the distinct token count. */
  def bloomUnionGlobal(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val global = perSourceBloom(t).agg(bloomAgg(col("sketch"))).scalar()
    t.select(explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation (see `exploded`)
      .distinct()
      .where(GraftFunctions.bloomMightContain(global, col("token")))
      .agg(count(lit(1)).as("n_present"))
  }

  /** SALT-BASED SKEW MITIGATION under the driver gate (north rule:
    * "partitioning / shuffle / skew handled explicitly"). A hot source is
    * split across 8 salt shards — `groupBy(source, salt)` spreads its rows
    * over 8 reducers instead of one — and the per-shard partial filters are
    * merged back per source by the same Bloom kind's merge. Bloom union
    * is bitwise OR (commutative, associative, idempotent; reference
    * `unionInto`, `Internal.hs:509-550`), so the salted two-level build
    * must produce BYTE-IDENTICAL filters to the direct one-level build —
    * checked per source — and probing every (source, token) occurrence
    * against the salted filter stays exact by no-false-negatives. */
  def saltedBuildEquiv(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val direct = perSourceBloom(t).withColumnRenamed("sketch", "direct_sketch")
    val salted = t
      .withColumn("salt", pmod(hash(col("doc_id")), lit(8)))
      .groupBy(col("source"), col("salt"))
      .agg(bloomAgg(col("tokens")).as("partial"))
      .groupBy(col("source"))
      .agg(bloomAgg(col("partial")).as("salted_sketch"))
    // the probe runs against the keyed pack of the salted filters instead
    // of carrying the salted sketch column through a broadcast join (see
    // packOf), and the per-source equality boolean (one row per source)
    // joins back onto the group-count-sized aggregate
    val both = salted.join(direct, "source")
    val bools = both.select(col("source"),
      (col("salted_sketch") === col("direct_sketch")).as("salted_equals_direct"))
    probeOwnSource(t, packOf(both, "salted_sketch"))
      .join(broadcast(bools), "source")
      .select(col("source"), col("salted_equals_direct"), col("n_present"))
      .orderBy(col("source"))
  }

  /** KMV distinct-INTERSECTION and Jaccard estimates — the set-cardinality
    * queries HLL cannot answer (see [[graft.core.Kmv]]) — over per-status
    * customer sets of the `orders` table, plus the KMV merge path (global
    * union of the per-status sketches). All estimates are checked against
    * Spark-computed exact values with margins from the published error
    * model (Beyer et al. 2007): sigma_rel(D̂) = 1/sqrt(k-2),
    * sigma(Ĵ) = sqrt(J(1-J)/k); booleans are deterministic for the fixed
    * SipKey, so the DuckDB oracle is all-true over the same status pairs. */
  def kmvIntersectBound(spark: SparkSession, dir: String): DataFrame = {
    val se = Kmv.stdError(kmvK)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderstatus").as("status"), col("o_custkey").cast("long").as("custkey"))
    val sk = orders.groupBy(col("status")).agg(kmvAgg(col("custkey")).as("sk"))
    // exact truth for the gate (status domain is tiny; distinct pairs only)
    val d = orders.distinct()
    val exactPer = d.groupBy(col("status")).agg(count(lit(1)).as("nd"))
    val exactInter = d.as("a")
      .join(d.as("b"),
        col("a.custkey") === col("b.custkey") && col("a.status") < col("b.status"))
      .groupBy(col("a.status").as("status_a"), col("b.status").as("status_b"))
      .agg(count(lit(1)).as("exact_inter"))
    // merge path: per-status sketches -> one global union sketch (1 row)
    val globalEst = sk.agg(kmvAgg(col("sk")).as("g"))
      .select(KmvEstimate.column(col("g")).as("g_est"))
    val globalExact = d.select(col("custkey")).distinct()
      .agg(count(lit(1)).as("g_exact"))
    // second sketch family at HALF capacity: the pure-SQL pairwise union
    // (graft_kmv_union) must fold a (k, k/2) pair down to k/2 and still
    // estimate within the smaller capacity's bound (round-3 VERDICT #6 —
    // the pairwise SQL scalar under the driver gate, cross-capacity included)
    val k2 = kmvK / 2
    val se2 = Kmv.stdError(k2)
    val skSmall = orders.groupBy(col("status"))
      .agg(NativeAggs.column(KmvKind(K0, K1, k2), col("custkey")).as("sk_small"))
    val pairs = sk.as("sa")
      .join(sk.as("sb"), col("sa.status") < col("sb.status"))
      .join(broadcast(skSmall.select(col("status").as("sb_status"), col("sk_small"))),
        col("sb.status") === col("sb_status"))
      .select(
        col("sa.status").as("status_a"), col("sb.status").as("status_b"),
        KmvEstimate.column(col("sa.sk")).as("est_a"),
        KmvEstimate.column(col("sb.sk")).as("est_b"),
        KmvJaccard.column(col("sa.sk"), col("sb.sk")).as("est_j"),
        KmvIntersect.column(col("sa.sk"), col("sb.sk")).as("est_inter"),
        KmvDifference.column(col("sa.sk"), col("sb.sk")).as("est_diff"),
        // graft_kmv_estimate(graft_kmv_union(a, b)): union cardinality in pure
        // composed SQL scalars (same capacity, and cross-capacity fold-down)
        KmvEstimate.column(KmvUnion.column(col("sa.sk"), col("sb.sk")))
          .as("est_union"),
        KmvEstimate.column(KmvUnion.column(col("sa.sk"), col("sk_small")))
          .as("est_union_cc"))
    val ndA = exactPer.select(col("status").as("status_a"), col("nd").as("nd_a"))
    val ndB = exactPer.select(col("status").as("status_b"), col("nd").as("nd_b"))
    // LEFT join + coalesce: a pair with ZERO exact overlap must still emit
    // its row (the oracle enumerates ALL status pairs; an inner join would
    // drop disjoint pairs and fail the gate on row count, not estimates)
    val joined = pairs
      .join(broadcast(ndA), "status_a").join(broadcast(ndB), "status_b")
      .join(broadcast(exactInter), Seq("status_a", "status_b"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .crossJoin(broadcast(globalEst)).crossJoin(broadcast(globalExact))
    val unionExact = col("nd_a") + col("nd_b") - col("exact_inter")
    val exactJ = col("exact_inter") / unionExact
    val sigmaJ = sqrt(exactJ * (lit(1.0) - exactJ) / lit(kmvK.toDouble))
    joined.select(
      col("status_a"), col("status_b"),
      (abs(col("est_a") - col("nd_a")) <= col("nd_a") * lit(4 * se) + lit(3.0) &&
        abs(col("est_b") - col("nd_b")) <= col("nd_b") * lit(4 * se) + lit(3.0))
        .as("distinct_within_bound"),
      (abs(col("est_inter") - col("exact_inter")) <=
        lit(6.0) * (unionExact * sigmaJ + exactJ * unionExact * lit(se)) + lit(5.0))
        .as("inter_within_bound"),
      (abs(col("est_j") - exactJ) <= lit(5.0) * sigmaJ + lit(0.01))
        .as("jaccard_within_bound"),
      (abs(col("g_est") - col("g_exact")) <= col("g_exact") * lit(4 * se) + lit(3.0))
        .as("merged_union_within_bound"),
      (abs(col("est_union") - unionExact) <= unionExact * lit(4 * se) + lit(3.0))
        .as("pairwise_union_within_bound"),
      (abs(col("est_union_cc") - unionExact) <= unionExact * lit(4 * se2) + lit(3.0))
        .as("crosscap_union_within_bound"),
      // difference |A \ B|: ρ_diff over the union sample, same error shape
      // as the intersection estimate (Beyer et al. §5)
      locally {
        val exactDiff = col("nd_a") - col("exact_inter")
        val rhoD = exactDiff / unionExact
        val sigmaD = sqrt(rhoD * (lit(1.0) - rhoD) / lit(kmvK.toDouble))
        (abs(col("est_diff") - exactDiff) <=
          lit(6.0) * (unionExact * sigmaD + rhoD * unionExact * lit(se)) + lit(5.0))
          .as("diff_within_bound")
      })
      .orderBy(col("status_a"), col("status_b"))
  }

  /** HLL distinct tokens per source, asserted within 4 sigma of exact
    * (sigma = 1.04/sqrt(m); linear-counting regime is far tighter). */
  def hllDistinctTokensBound(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val est = t.groupBy(col("source")).agg(hllAgg(col("tokens")).as("sk"))
      .select(col("source"), HllEstimate.column(col("sk")).as("est"))
    val exact = exploded(t).groupBy(col("source"))
      .agg(countDistinct(col("token")).as("exact"))
    est.join(exact, "source")
      .select(
        col("source"),
        (abs(col("est") - col("exact")) <=
          greatest(col("exact") * lit(4 * Hll.stdError(hllP)), lit(3.0))).as("within_bound"))
      .orderBy(col("source"))
  }

  /** HLL distinct doc_ids per source (string elements) within bound. */
  def hllDistinctDocsBound(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val est = t.groupBy(col("source")).agg(hllAgg(col("doc_id")).as("sk"))
      .select(col("source"), HllEstimate.column(col("sk")).as("est"))
    val exact = t.groupBy(col("source")).agg(countDistinct(col("doc_id")).as("exact"))
    est.join(exact, "source")
      .select(
        col("source"),
        (abs(col("est") - col("exact")) <=
          greatest(col("exact") * lit(4 * Hll.stdError(hllP)), lit(3.0))).as("within_bound"))
      .orderBy(col("source"))
  }

  /** Count-min heavy hitter per source: estimate of the top token's
    * frequency is one-sided (>= exact) and within 2*eps*N. */
  def cmsHeavyHitterBound(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val counts = exploded(t).groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("token").asc)
    val top = counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("source"), col("token"), col("cnt"))
    val sk = t.groupBy(col("source")).agg(cmsAgg(col("tokens")).as("sk"))
    top.join(sk, "source")
      .select(
        col("source"),
        {
          val est = CmsEstimate().column(col("sk"), col("token"))
          val n = CmsTotal().column(col("sk"))
          (est >= col("cnt") &&
            est <= col("cnt") + greatest(ceil(n * lit(2 * cmsCfg.epsilon)), lit(2.0))).as("within_bound")
        })
      .orderBy(col("source"))
  }

  /** KLL quantiles of n_tok per source: for q in {0.25, 0.5, 0.75} the
    * estimate's true rank interval must overlap [q-eps, q+eps]
    * (two-sided check is tie-safe: rank_lo = #{< est}/n, rank_hi = #{<= est}/n). */
  def kllNtokQuantileBound(spark: SparkSession, dir: String): DataFrame =
    quantileBound(spark, dir, isKll = true, eps = Kll.normalizedRankError(kllK) * 1.5)

  /** Same check through the t-digest (published envelope ~O(1/delta) at the
    * median, tighter at tails; generous mid-quantile eps). */
  def tdigestNtokQuantileBound(spark: SparkSession, dir: String): DataFrame =
    quantileBound(spark, dir, isKll = false, eps = 0.05)

  private def quantileBound(spark: SparkSession, dir: String, isKll: Boolean, eps: Double): DataFrame = {
    val t = Tokens.table(spark, dir)
    val qs = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75)
    val sk = t.groupBy(col("source"))
      .agg((if (isKll) kllAgg _ else tdigestAgg _)(col("n_tok").cast("double")).as("sk"))
    val estCols = qs.map { case (tag, q) =>
      (if (isKll) KllQuantile else TDigestQuantile).column(
        col("sk"), lit(q)).as(s"est_$tag")
    }
    val ests = sk.select(col("source") +: estCols: _*)
    val withEst = t.join(broadcast(ests), "source")
    val agg = withEst.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      qs.flatMap { case (tag, _) =>
        Seq(
          sum(when(col("n_tok") < col(s"est_$tag"), 1L).otherwise(0L)).as(s"lo_$tag"),
          sum(when(col("n_tok") <= col(s"est_$tag"), 1L).otherwise(0L)).as(s"hi_$tag"))
      }: _*)
    val ok = qs.map { case (tag, q) =>
      (col(s"lo_$tag") / col("n") <= lit(q + eps)) && (col(s"hi_$tag") / col("n") >= lit(q - eps))
    }.reduce(_ && _)
    agg.select(col("source"), ok.as("within_bound")).orderBy(col("source"))
  }

  /** TWO-LEVEL quantile merge under the driver gate: per-source KLL and
    * t-digest sketches are serialized, merged globally through
    * the KLL and t-digest kinds' merges (the
    * checkpoint-merge shape — every family member's serialized-merge path
    * now has a gate), and the merged estimates are checked against GLOBAL
    * exact ranks. KLL merge preserves the rank-error guarantee (levelwise
    * concat + recompaction); the margin is doubled for the extra
    * compaction round. */
  def quantileMergeBound(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val perSource = t.groupBy(col("source")).agg(
      kllAgg(col("n_tok").cast("double")).as("kll"),
      tdigestAgg(col("n_tok").cast("double")).as("td"))
    val merged = perSource.agg(
      kllAgg(col("kll")).as("kll"), tdigestAgg(col("td")).as("td"))
    val qs = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75)
    val est = merged.select(
      qs.flatMap { case (tag, q) => Seq(
        KllQuantile.column(col("kll"), lit(q)).as(s"kll_$tag"),
        TDigestQuantile.column(col("td"), lit(q)).as(s"td_$tag")) }: _*)
    val withEst = t.crossJoin(broadcast(est))
    val epsKll = Kll.normalizedRankError(kllK) * 2.0
    val epsTd = 0.05
    val agg = withEst.agg(
      count(lit(1)).as("n"),
      qs.flatMap { case (tag, _) => Seq(
        sum(when(col("n_tok") < col(s"kll_$tag"), 1L).otherwise(0L)).as(s"klo_$tag"),
        sum(when(col("n_tok") <= col(s"kll_$tag"), 1L).otherwise(0L)).as(s"khi_$tag"),
        sum(when(col("n_tok") < col(s"td_$tag"), 1L).otherwise(0L)).as(s"tlo_$tag"),
        sum(when(col("n_tok") <= col(s"td_$tag"), 1L).otherwise(0L)).as(s"thi_$tag")) }: _*)
    def ok(lo: String, hi: String, q: Double, eps: Double) =
      (col(lo) / col("n") <= lit(q + eps)) && (col(hi) / col("n") >= lit(q - eps))
    agg.select(
      qs.map { case (tag, q) => ok(s"klo_$tag", s"khi_$tag", q, epsKll) }
        .reduce(_ && _).as("kll_within_bound"),
      qs.map { case (tag, q) => ok(s"tlo_$tag", s"thi_$tag", q, epsTd) }
        .reduce(_ && _).as("td_within_bound"))
  }

  /** CMS-driven heavy-hitter top-k: rank distinct candidate tokens per
    * source by their count-min estimate. At this width (2048 counters vs a
    * tiny vocabulary) estimates are collision-free, i.e. exact, so the
    * (rank, est) pairs match the exact SQL top-k; the tie-break (estimate
    * desc, token asc) aligns with the oracle's (count desc, word asc)
    * because token ids are assigned in word-lexical order. */
  def cmsTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val t = Tokens.table(spark, dir)
    val sk = t.groupBy(col("source")).agg(cmsAgg(col("tokens")).as("sk"))
    val candidates = exploded(t).distinct()
    val est = candidates
      .join(broadcast(sk), "source")
      .select(col("source"), col("token"),
        CmsEstimate().column(col("sk"), col("token")).as("est"))
    val w = Window.partitionBy(col("source")).orderBy(col("est").desc, col("token").asc)
    est.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("source"), col("rank").cast("long").as("rank"), col("est"))
      .orderBy(col("source"), col("rank"))
  }

  /** Bloom intersection (reference `intersectionInto`): intersect the
    * sketches of the two lexically-first sources, then probe with the
    * EXACT common-token set — intersection never loses a common element,
    * so the present-count equals the exact common distinct count. */
  def bloomIntersectExact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val two = t.select(col("source")).distinct().orderBy(col("source")).limit(2)
    val sketches = perSourceBloom(t.join(two, "source"))
    // the first and the second source's filter, each a scalar subquery;
    // fewer than two sources fail the query
    def sketchOf(pick: (Column, Column) => Column) = sketches.agg(
      when(count(lit(1)) === 2, pick(col("sketch"), col("source")))
        .otherwise(raise_error(lit("need at least two sources")))).scalar()
    val inter = BloomCombine(intersection = true).column(sketchOf(min_by), sketchOf(max_by))
    // the exact common tokens: those of both sources
    val common = exploded(t.join(two, "source")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("n_sources"))
      .where(col("n_sources") === 2)
    common
      .where(GraftFunctions.bloomMightContain(inter, col("token")))
      .agg(count(lit(1)).as("n_common_present"))
  }

  /** Empirical FPR of the per-source Bloom vs the analytic bound: probe
    * with an anti-set (token ids that never occur: negative ints) and
    * require |measured - fpr(n,l,k,w)| within 0.005 + 3 binomial sigma
    * (the reference's gate, tests/Main.hs:537-584). */
  def bloomFprBound(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    val antiN = 10000
    val nDistinct = exploded(t).groupBy(col("source"))
      .agg(countDistinct(col("token")).as("n_elems"))
    val sketches = perSourceBloom(t).join(nDistinct, "source")
    val fprUdf = udf { (bytes: Array[Byte], nElems: Long) =>
      val (cfg, words, _) = BlockedBloom.fromBytes(K0, K1, bytes)
      var fp = 0
      var i = 1
      while (i <= antiN) { if (BlockedBloom.containsInt(words, cfg, -i)) fp += 1; i += 1 }
      val measured = fp.toDouble / antiN
      val analytic = Fpr.bloom1(nElems, cfg.l.toLong, cfg.k)
      val sigma = math.sqrt(math.max(analytic * (1 - analytic), 1e-12) / antiN)
      math.abs(measured - analytic) <= 0.005 + 3 * sigma
    }
    sketches
      .select(col("source"), fprUdf(col("sketch"), col("n_elems")).as("within_bound"))
      .orderBy(col("source"))
  }

  /** The canonical runtime-filter join on the TPC-H-ish tables, through
    * [[operators.BloomJoin.semi]]: a Bloom over `o_orderkey` of 'P'-status
    * orders (the selective build side) prefilters `lineitem`, then the
    * exact semi-join confirms — exact regardless of false positives (the
    * pattern behind Spark's own spark.sql.optimizer.runtime.bloomFilter
    * rewrite, SURVEY.md §2.2). */
  def bloomJoinLineitem(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
    operators.BloomJoin.semi(lineitem, "l_orderkey",
        orders.where(col("o_orderstatus") === "P"), "o_orderkey", bloomCfg)(
      // quantities are integral doubles; cast BEFORE summing so both engines
      // sum integers exactly (double-accumulation order is not portable)
      _.agg(count(lit(1)).as("n_lines"), sum(col("l_quantity").cast("long")).as("sum_qty")))
  }

  /** HLL distinct users per event type over the events stream table
    * (long-typed elements), within bound. */
  def hllEventUsersBound(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val est = events.groupBy(col("event_type")).agg(hllAgg(col("user_id")).as("sk"))
      .select(col("event_type"), HllEstimate.column(col("sk")).as("est"))
    val exact = events.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("exact"))
    est.join(exact, "event_type")
      .select(
        col("event_type"),
        (abs(col("est") - col("exact")) <=
          greatest(col("exact") * lit(4 * Hll.stdError(hllP)), lit(3.0))).as("within_bound"))
      .orderBy(col("event_type"))
  }

  /** Hierarchical sketch ROLLUP — the materialized-sketch-table pattern
    * that makes the whole library pay off at 100 TB: per-(event_type, day)
    * partial HLL + KMV sketches of user_id are the incremental-maintenance
    * unit (each new day/snapshot aggregates ONLY its own partition), and
    * the per-type answer is re-derived by merging a handful of tiny sketch
    * rows — no raw-history rescan, ever. The gate proves the algebra that
    * makes this sound: for HLL (register-max) and KMV (bottom-k union),
    * merge-of-daily-partials is BYTE-IDENTICAL to a direct single-pass
    * build over the raw rows, and the merged estimate stays within the
    * published bound of the exact distinct count. n_days and
    * n_exact_users are genuine oracle-recomputed values (DuckDB counts
    * them from the raw table); the identity booleans are computed
    * in-Spark over the actual sketch bytes. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    // level 0: the daily sketch table (what a production job would persist
    // per Iceberg snapshot); level 1: merge partials per type — one small
    // shuffle of sketch bytes, never raw rows. `ts` is TIMESTAMP_NTZ, so
    // to_date takes the wall-clock date with no session-timezone
    // dependence — it matches the oracle's CAST(ts AS DATE) in any session
    val daily = events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("event_type"), col("day"))
      .agg(hllAgg(col("user_id")).as("hll_sk"),
        kmvAgg(col("user_id")).as("kmv_sk"))
    val merged = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      hllAgg(col("hll_sk")).as("hll_m"),
      kmvAgg(col("kmv_sk")).as("kmv_m"))
    // direct single-pass build + exact distinct, for the identity/bound gate
    val direct = events.groupBy(col("event_type")).agg(
      hllAgg(col("user_id")).as("hll_d"),
      kmvAgg(col("user_id")).as("kmv_d"),
      countDistinct(col("user_id")).as("n_exact_users"))
    // sparse-encoding gate (round 5): the small per-(type, day) partials
    // must take the v2 sparse layout — strictly below the dense size —
    // while still merging byte-identically (checked below via hll_m ===
    // hll_d: both sides re-encode through the same adaptive choke point)
    val denseLen = 32 + Hll.numRegisters(hllP)
    val sparse = daily.groupBy(col("event_type"))
      .agg(min(length(col("hll_sk")) < denseLen).as("partials_sparse_encoded"))
    merged.join(direct, Seq("event_type")).join(sparse, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_days"),
        col("n_exact_users"),
        (col("hll_m") === col("hll_d")).as("hll_merge_eq_direct"),
        (col("kmv_m") === col("kmv_d")).as("kmv_merge_eq_direct"),
        (abs(HllEstimate.column(col("hll_m")) - col("n_exact_users")) <=
          greatest(col("n_exact_users") * lit(4 * Hll.stdError(hllP)), lit(3.0)))
          .as("est_within_bound"),
        col("partials_sparse_encoded"))
      .orderBy(col("event_type"))
  }

  /** The ops-hardening path under the driver gate: run the resumable
    * checkpoint job with a SIMULATED MID-JOB CRASH (only 5 buckets commit),
    * resume to completion, finalize the per-source sketches from the
    * checkpoint, and probe each source's Bloom with its own token stream —
    * resume-then-finalize is byte-identical to an uninterrupted build
    * (SketchJobSpec), so no false negatives ⇒ exact per-source counts. */
  def sketchJobResumeProbeExact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tokens.table(spark, dir)
    // tmpfs-backed checkpoint when it has room (ScratchDir): the two
    // increments write + re-read the partial sketches per invocation —
    // production jobs point ckpt at HDFS/S3
    val ckptBase = ScratchDir.base().getPath
    val ckpt = s"$ckptBase/graft_job_ckpt_q"
    val path = new org.apache.hadoop.fs.Path(ckpt)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true) // fresh job per query run
    val cfg = graft.jobs.SketchJob.DefaultConfig
    graft.jobs.SketchJob.runIncrement(spark, t, ckpt, cfg, failAfterBuckets = Some(5))
    graft.jobs.SketchJob.runIncrement(spark, t, ckpt, cfg) // resume the rest
    // the finalized filters probed via the keyed pack (see packOf)
    probeOwnSource(t, packOf(graft.jobs.SketchJob.finalizeSketches(spark, ckpt, cfg), "bloom"))
  }

  /** Doc-dependent key blow-up shared by the Misra-Gries gates (batch
    * unweighted + weighted) and the streaming trending-tokens twin: every
    * fifth token keeps one global key, the rest fan out per doc_id residue
    * — vocab >> capacity so the summaries are genuinely lossy. ONE
    * definition: the weighted gate's correctness rests on its exact frame
    * being recomputed over the SAME keys as the unweighted sibling's, so
    * the expression must not be able to drift between copies. */
  private[graft] def keyBlowup(token: Column, docId: Column): Column =
    when(token % 5 === 0, token.cast("long") * 1000L)
      .otherwise(token.cast("long") * 1000L + pmod(docId.cast("long"), lit(101L)) + 1L)

  /** Misra-Gries heavy hitters for vocab ≫ summary width (round-2 VERDICT
    * #6 — `cmsTopK`'s exactness needs width ≫ vocab plus candidate
    * enumeration; this operator needs neither). The key universe is blown
    * up deterministically: tokens with id % 5 == 0 keep their whole Zipf
    * mass (planted heavies), every other occurrence splits into ~101
    * doc-dependent sub-keys — thousands of distinct keys vs capacity 64.
    * The emitted per-source boolean asserts the summary's EXACT guarantees
    * against exactly-computed counts (invariant under partitioning/merge
    * order, hence driver-gateable):
    *   1. est(x) <= true(x) <= est(x) + D for every stored key;
    *   2. every key with true(x) > D is present in the summary;
    *   3. D * capacity <= N (the Misra-Gries error bound).
    * At 100 TB: one partial-aggregated groupBy; the shuffle carries one
    * <= capacity-entry summary per (partition, source), row-count-
    * independent — the same monoid shape as the Bloom/HLL builds. */
  def heavyHitterMgBound(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 64
    val t = Tokens.table(spark, dir)
    val stream = t
      .select(col("source"), col("doc_id"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation (see `exploded`)
      .select(col("source"), keyBlowup(col("token"), col("doc_id")).as("key"))
    val sk = stream.groupBy(col("source")).agg(NativeAggs.column(HeavyHitters(capacity), col("key")).as("sk"))
    val exact = stream.groupBy(col("source"), col("key")).agg(count(lit(1)).as("cnt"))
    mgGuaranteeGate(sk, exact, capacity)
  }

  /** Shared Misra-Gries guarantee gate: summary frame (groups..., sk) vs
    * exactly-recomputed counts (groups..., key, cnt) -> (groups...,
    * within_bound), ordered by the groups — per source for the batch
    * gates, per (window, source) for the streaming trending-tokens
    * replay. `cnt` is the true WEIGHT of the key (plain occurrence count
    * for the unweighted agg, summed weights for the weighted one — the
    * guarantees are the same with N = total weight).
    * ONE native struct read per summary (graft_heavyhitter_summary): topk
    * entries + error bound D + total N from a single cached deserialize —
    * no UDF readers in the family (round-3 VERDICT #5). */
  private[graft] def mgGuaranteeGate(sk: DataFrame, exact: DataFrame, capacity: Int,
      groups: Seq[String] = Seq("source")): DataFrame = {
    val g = groups.map(col)
    val meta = sk
      .select(g :+ HeavyHitterSummary.column(col("sk")).as("s"): _*)
      .select(g ++ Seq(col("s.error").as("d"), col("s.total").as("n"),
        col("s.topk").as("entries")): _*)
    val entries = meta.select(g ++ Seq(col("d"), explode(col("entries")).as("e")): _*)
      .select(g ++ Seq(col("d"), col("e.key").as("key"), col("e.est").as("est")): _*)
    // (1) stored-key sandwich: est <= cnt <= est + D. LEFT join so a stored
    // key with NO exact counterpart (a corrupt summary) produces a FALSE
    // row — an inner join would silently drop it and the group could pass
    // vacuously (review r4)
    val sandwich = entries.join(exact, groups :+ "key", "left")
      .groupBy(g: _*)
      .agg(min(col("cnt").isNotNull &&
        col("est") <= col("cnt") && col("cnt") <= col("est") + col("d")).as("sandwich_ok"))
    // (2) guaranteed presence: no key with cnt > D missing from the summary
    val missed = exact
      .join(meta.select(g :+ col("d"): _*), groups)
      .where(col("cnt") > col("d"))
      .join(entries.select(g :+ col("key"): _*), groups :+ "key", "left_anti")
      .groupBy(g: _*).agg(count(lit(1)).as("n_missed"))
    // (3) the error budget: D * capacity <= N
    // LEFT join + coalesce(true) on the sandwich: with the sandwich itself
    // LEFT-joined above, a missing sandwich row can ONLY mean a summary
    // with zero stored entries (inserts can decrement every counter away)
    // — vacuously within bound; any corrupt non-empty summary produces a
    // FALSE sandwich row instead of a missing one. An inner join would
    // drop the group's row and break the oracle's enumeration
    meta.select(g :+ (col("d") * capacity <= col("n")).as("budget_ok"): _*)
      .join(sandwich, groups, "left")
      .join(missed, groups, "left")
      .select(g :+ (col("budget_ok") && coalesce(col("sandwich_ok"), lit(true)) &&
        coalesce(col("n_missed"), lit(0L)) === 0L).as("within_bound"): _*)
      .orderBy(g: _*)
  }

  /** WEIGHTED Misra-Gries under the driver gate
    * (`q_heavyhitter_weighted_bound`): the input arrives PRE-AGGREGATED as
    * (key, weight) rows — per-(doc, key) occurrence counts, the shape a
    * checkpointed pipeline hands the summary instead of re-exploding every
    * occurrence — and `graft_heavyhitter_weighted` must deliver the same
    * est <= true <= est + D / presence / D*capacity <= N guarantees with
    * N = TOTAL WEIGHT. The true weight of each key equals its plain
    * occurrence count (sum of per-doc counts), so the gate reuses the
    * sibling's exactly-recomputed frame; key universe blown up
    * doc-dependently exactly like `q_heavyhitter_mg_bound` (vocab ≫
    * capacity, summaries genuinely lossy). */
  def heavyHitterWeightedBound(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 64
    val t = Tokens.table(spark, dir)
    val stream = t
      .select(col("source"), col("doc_id"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation (see `exploded`)
      .select(col("source"), col("doc_id"),
        keyBlowup(col("token"), col("doc_id")).as("key"))
    val perDoc = stream
      .groupBy(col("source"), col("doc_id"), col("key"))
      .agg(count(lit(1)).as("w"))
    val sk = perDoc.groupBy(col("source"))
      .agg(NativeAggs.column(HeavyHitters(capacity), col("key"), col("w")).as("sk"))
    val exact = stream.groupBy(col("source"), col("key")).agg(count(lit(1)).as("cnt"))
    mgGuaranteeGate(sk, exact, capacity)
  }

  /** Train/eval n-gram decontamination under the driver gate
    * ([[graft.operators.Decontamination]]): 4-gram token sequences of the
    * held-out source `src0` Bloom-prefilter the training sources' grams, a
    * broadcast left-semi join confirms exactly (FP-immune), and the per
    * train-source report (n_docs, contaminated docs, distinct doc-gram
    * hits) is integer-exact — DuckDB recomputes it from the raw text
    * (word 4-grams; word→id injectivity makes the counts equal). */
  def ngramContamination(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Decontamination.decontaminate(
      Tokens.table(spark, dir), evalSource = "src0", n = 4, bloomCfg)

  /** BIGRAM heavy hitters over the token streams — n-gram statistics, the
    * other direction from [[ngramContamination]]'s membership: each
    * adjacent token pair packs into one long ((a << 32) | b, exact — ids
    * are positive ints), counted per source both exactly and through the
    * Misra-Gries summary. Emits per source the exact bigram totals
    * (position count, distinct count, top count — all invariant under the
    * injective word→id map, so DuckDB recomputes them from raw text) plus
    * the MG guarantee gate boolean. At 100 TB the summary branch is the
    * same row-count-independent monoid shuffle as [[heavyHitterMgBound]];
    * the exact branch exists for the oracle. */
  def bigramHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 64
    val t = Tokens.table(spark, dir)
    // < 2 tokens guarded INSIDE the expression (slice with negative
    // length throws) so the whole pipeline is one expression evaluation:
    // explode_outer + not-null replaces the old where(size >= 2) + plain
    // explode, which re-evaluated the tokenize + zip_with tree three
    // times per document (see `exploded`)
    val pairs = when(size(col("tokens")) >= 2, zip_with(
      slice(col("tokens"), lit(1), size(col("tokens")) - 1),
      slice(col("tokens"), lit(2), size(col("tokens")) - 1),
      (a, b) => a.cast("long") * lit(4294967296L) + b.cast("long")))
      .otherwise(array().cast("array<bigint>"))
    val big = t
      .select(col("source"), explode_outer(pairs).as("key"))
      .where(col("key").isNotNull)
    val sk = big.groupBy(col("source")).agg(NativeAggs.column(HeavyHitters(capacity), col("key")).as("sk"))
    val exact = big.groupBy(col("source"), col("key")).agg(count(lit(1)).as("cnt"))
    val stats = exact.groupBy(col("source")).agg(
      sum(col("cnt")).as("n_bigrams"),
      count(lit(1)).as("distinct_bigrams"),
      max(col("cnt")).as("top_bigram_count"))
    stats.join(mgGuaranteeGate(sk, exact, capacity), Seq("source"))
      .select(col("source"), col("n_bigrams"), col("distinct_bigrams"),
        col("top_bigram_count"), col("within_bound"))
      .orderBy(col("source"))
  }

  /** Exact per-doc token count through the tokens table (text analysis:
    * token counting; trivially SQL-checkable). */
  def tokenCountExact(spark: SparkSession, dir: String): DataFrame =
    Tokens.table(spark, dir)
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
      .orderBy(col("doc_id"))

  /** Bottom-k uniform sample under the driver gate: a mergeable,
    * DETERMINISTIC sample of k distinct doc_ids per source
    * ([[graft.core.BottomK]]) — the training-pipeline "inspect k random
    * docs per source" op without the full-shuffle nondeterministic
    * `ORDER BY rand()` window. Emitted booleans (all exactly checkable,
    * hence the constant-true DuckDB oracle):
    *  1. size_ok — sample size == min(k, distinct docs);
    *  2. members_ok — every sampled id really is a doc of that source;
    *  3. partition_invariant — the sample bytes are identical when the
    *     input is first repartitioned by doc_id (merge-order invariance,
    *     the determinism the `rand()` formulation cannot give);
    *  4. merge_matches_direct — per-shard partials folded through the
    *     serialized sample merge (checkpoint-merge shape) are
    *     byte-identical to the direct build.
    * At 100 TB: one partial-aggregated groupBy; the shuffle carries one
    * <= k-entry summary per (partition, source). */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val docs = Tokens.documents(spark, dir)
      .select(col("source"), col("doc_id").cast("long").as("doc_id"))
    val sample = Sample(K0, K1, k, weighted = false, BottomK.LongValues)
    val aggU = (c: Column) => NativeAggs.column(sample, c)
    val mergeU = aggU // the kind merges its own serialized partials
    val direct = docs.groupBy(col("source")).agg(aggU(col("doc_id")).as("sk"))
    val repart = docs.repartition(7, col("doc_id"))
      .groupBy(col("source")).agg(aggU(col("doc_id")).as("sk_repart"))
    val twoLevel = docs
      .groupBy(col("source"), pmod(col("doc_id"), lit(5L)).as("shard"))
      .agg(aggU(col("doc_id")).as("partial"))
      .groupBy(col("source")).agg(mergeU(col("partial")).as("sk_merged"))
    val exact = docs.groupBy(col("source")).agg(countDistinct(col("doc_id")).as("nd"))
    val withVals = direct.select(col("source"), col("sk"),
      SampleValues(weighted = false, BottomK.LongValues).column(col("sk")).as("vals"))
    val nonMembers = withVals
      .select(col("source"), explode(col("vals")).as("doc_id"))
      .join(docs, Seq("source", "doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_bad"))
    // STRING-valued sample over the SAME ids as strings — the input
    // schema's doc_id is a string; the sampler must work without a numeric
    // cast (round-4 string-layout variant, gated with its own exact booleans)
    val docsStr = docs.select(col("source"), col("doc_id").cast("string").as("doc_id_str"))
    val strSample = Sample(K0, K1, k, weighted = false, BottomK.StringValues)
    val strAggU = (c: Column) => NativeAggs.column(strSample, c)
    val strMergeU = strAggU
    val strDirect = docsStr.groupBy(col("source")).agg(strAggU(col("doc_id_str")).as("ssk"))
    // cast-free shard key (the variant's whole point is non-numeric ids):
    // the native SipHash over the STRING spreads shards uniformly with no
    // ANSI-mode cast hazard
    val strTwoLevel = docsStr
      .groupBy(col("source"),
        pmod(GraftFunctions.sipHash64(col("doc_id_str")), lit(5L)).as("shard"))
      .agg(strAggU(col("doc_id_str")).as("partial"))
      .groupBy(col("source")).agg(strMergeU(col("partial")).as("ssk_merged"))
    val strWithVals = strDirect.select(col("source"), col("ssk"),
      SampleValues(weighted = false, BottomK.StringValues).column(col("ssk")).as("svals"))
    val strNonMembers = strWithVals
      .select(col("source"), explode(col("svals")).as("doc_id_str"))
      .join(docsStr, Seq("source", "doc_id_str"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_bad_str"))
    withVals
      .join(exact, "source")
      .join(repart, "source")
      .join(twoLevel, "source")
      .join(nonMembers, Seq("source"), "left")
      .join(strWithVals, "source")
      .join(strTwoLevel, "source")
      .join(strNonMembers, Seq("source"), "left")
      .select(col("source"),
        (size(col("vals")) === least(lit(k), col("nd"))).as("size_ok"),
        (coalesce(col("n_bad"), lit(0L)) === 0L).as("members_ok"),
        (col("sk") === col("sk_repart")).as("partition_invariant"),
        (col("sk") === col("sk_merged")).as("merge_matches_direct"),
        (size(col("svals")) === least(lit(k), col("nd"))).as("str_size_ok"),
        (coalesce(col("n_bad_str"), lit(0L)) === 0L).as("str_members_ok"),
        (col("ssk") === col("ssk_merged")).as("str_merge_matches_direct"))
      .orderBy(col("source"))
  }

  /** WEIGHTED bottom-k sample under the driver gate: k docs per source
    * with inclusion probability proportional to token count — the
    * training-data mixture op ("sample k docs per source weighted by
    * n_tok") as a mergeable Efraimidis–Spirakis sketch
    * ([[graft.core.BottomK.esKey]]) instead of the full-shuffle
    * `ORDER BY -ln(rand())/w` window. Emitted booleans (all exact):
    *  1. size_ok — sample size == min(k, docs with positive weight);
    *  2. members_ok — every sampled id is a positive-weight doc of the
    *     source;
    *  3. partition_invariant — byte-identical under input repartition;
    *  4. merge_matches_direct — serialized two-level
    *     weighted-sample merge ≡ direct build, byte-identical;
    *  5. matches_exact_topk — the sampled id set EQUALS an independent
    *     per-row recomputation of the k smallest ES keys, where the key
    *     -ln(u)/w is rebuilt from scratch in SQL (native `graft_sip_hash64`
    *     + double arithmetic; Spark SQL's `log` emits `StrictMath.log` in
    *     eval AND codegen, and [[graft.core.BottomK.esKey]] deliberately
    *     uses `StrictMath.log` too — the `Math.log` intrinsic differs by
    *     1 ulp on ~7% of x86_64 inputs, which would make this equality
    *     gate input-dependently flaky — so the doubles match
    *     bit-for-bit; key ties break by value on BOTH sides, matching the
    *     aggregator's (key, value) pair identity).
    *     This pins the weighting MECHANISM exactly; the
    *     w_i/Σw inclusion-probability statistics are property-tested
    *     across varied SipHash keys in BottomKPropertiesSpec.
    *  6. str_* twins — the STRING-layout weighted sample (the input
    *     schema's doc_id is a string; no numeric cast) under the same
    *     serialized-merge-identity and independent exact-topk gates (its
    *     ES keys hash the UTF-8 bytes, so it is a different, equally
    *     weighted draw).
    * At 100 TB: the operator branch is one partial-aggregated groupBy
    * shuffling <= k-entry summaries; the window-ranked branch exists only
    * for gate 5. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val k = 16
    val docs = Tokens.documents(spark, dir)
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= lit(""))).cast("long").as("w"))
      .where(col("w") > 0L)
    val sampleW = Sample(K0, K1, k, weighted = true, BottomK.LongValues)
    val aggW = (v: Column, w: Column) => NativeAggs.column(sampleW, v, w)
    val mergeW = (c: Column) => NativeAggs.column(sampleW, c)
    val direct = docs.groupBy(col("source")).agg(aggW(col("doc_id"), col("w")).as("sk"))
    val repart = docs.repartition(7, col("doc_id"))
      .groupBy(col("source")).agg(aggW(col("doc_id"), col("w")).as("sk_repart"))
    val twoLevel = docs
      .groupBy(col("source"), pmod(col("doc_id"), lit(5L)).as("shard"))
      .agg(aggW(col("doc_id"), col("w")).as("partial"))
      .groupBy(col("source")).agg(mergeW(col("partial")).as("sk_merged"))
    val exact = docs.groupBy(col("source")).agg(countDistinct(col("doc_id")).as("nd"))
    val withVals = direct.select(col("source"), col("sk"),
      SampleValues(weighted = true, BottomK.LongValues).column(col("sk")).as("vals"))
    val nonMembers = withVals
      .select(col("source"), explode(col("vals")).as("doc_id"))
      .join(docs, Seq("source", "doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_bad"))
    // gate 5: rebuild every ES key from first principles in SQL and rank.
    // Shared with the STRING-layout twin below — the only difference is
    // which hash seeds u (long vs UTF-8-bytes SipHash), exactly mirroring
    // the aggregators.
    def esKeyOf(hash: Column): Column = {
      val u = (shiftrightunsigned(hash, 11).cast("double") + lit(1.0)) /
        lit(9007199254740992.0) // 2^53 — u in (0, 1], matching BottomK.esKey
      -log(u) / col("w").cast("double")
    }
    val ranked = docs
      .withColumn("es_key", esKeyOf(GraftFunctions.sipHash64(col("doc_id"), K0, K1)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("es_key"), col("doc_id"))))
      .where(col("rn") <= k)
      .groupBy(col("source")).agg(sort_array(collect_list(col("doc_id"))).as("expected"))
    // STRING layout over the same ids as strings (the input schema's doc_id
    // IS a string): its ES keys hash the UTF-8 bytes, so the string sample
    // is a DIFFERENT (equally weighted) draw with its own exact-topk twin
    val docsStr = docs.select(col("source"),
      col("doc_id").cast("string").as("doc_id_str"), col("w"))
    val strSampleW = Sample(K0, K1, k, weighted = true, BottomK.StringValues)
    val strAggW = (v: Column, w: Column) => NativeAggs.column(strSampleW, v, w)
    val strMergeW = (c: Column) => NativeAggs.column(strSampleW, c)
    val strDirect = docsStr.groupBy(col("source"))
      .agg(strAggW(col("doc_id_str"), col("w")).as("wssk"))
    val strTwoLevel = docsStr
      .groupBy(col("source"),
        pmod(GraftFunctions.sipHash64(col("doc_id_str")), lit(5L)).as("shard"))
      .agg(strAggW(col("doc_id_str"), col("w")).as("partial"))
      .groupBy(col("source")).agg(strMergeW(col("partial")).as("wssk_merged"))
    val strWithVals = strDirect.select(col("source"), col("wssk"),
      SampleValues(weighted = true, BottomK.StringValues).column(col("wssk")).as("wsvals"))
    val strRanked = docsStr
      .withColumn("es_key", esKeyOf(GraftFunctions.sipHash64(col("doc_id_str"), K0, K1)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("es_key"), col("doc_id_str"))))
      .where(col("rn") <= k)
      .groupBy(col("source")).agg(sort_array(collect_list(col("doc_id_str"))).as("str_expected"))
    withVals
      .join(exact, "source")
      .join(repart, "source")
      .join(twoLevel, "source")
      .join(nonMembers, Seq("source"), "left")
      .join(ranked, "source")
      .join(strWithVals, "source")
      .join(strTwoLevel, "source")
      .join(strRanked, "source")
      .select(col("source"),
        (size(col("vals")) === least(lit(k), col("nd"))).as("size_ok"),
        (coalesce(col("n_bad"), lit(0L)) === 0L).as("members_ok"),
        (col("sk") === col("sk_repart")).as("partition_invariant"),
        (col("sk") === col("sk_merged")).as("merge_matches_direct"),
        (sort_array(col("vals")) === col("expected")).as("matches_exact_topk"),
        (col("wssk") === col("wssk_merged")).as("str_merge_matches_direct"),
        (sort_array(col("wsvals")) === col("str_expected")).as("str_matches_exact_topk"))
      .orderBy(col("source"))
  }

  /** Exact dedup: distinct texts per source (hash-groupBy dedup baseline). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tokens.documents(spark, dir)
      .groupBy(col("source"))
      .agg(countDistinct(col("text")).as("n_uniq"))
      .orderBy(col("source"))
}
