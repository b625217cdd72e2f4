package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

import graft.Frames
import graft.core.BloomConfig
import graft.plans.{GraftFunctions, NativeAggs}

/** The Bloom semi-join: the reference's bloom-1 filter as a membership
  * prefilter in front of an exact join (the runtime-filter pattern,
  * SURVEY.md §2.2 "Joins"). The filter only prunes the probe side; the
  * exact join decides, so false positives never change a result. Every
  * prefilter-and-confirm query of the library goes through [[BloomJoin.semi]].
  */
object BloomJoin {

  /** The build key's name inside [[semi]]: distinct from any probe column,
    * so the confirm can name both keys. */
  private val BuildKey = "bloom_join_build_key"

  /** `use` applied to the rows of `probe` whose `probeKey` equals a
    * `buildKey` of `build`, materialized with [[Frames.materialize]], so
    * `use` must return a result bounded by its shape.
    *
    *  - The build key is persisted: both the filter and the confirm read it.
    *  - The Bloom filter over it is a scalar subquery of the same query,
    *    decoded once per task.
    *  - The probe side is filtered by `graft_bloom_might_contain` before any
    *    join, so rows the filter rules out never reach a shuffle.
    *  - An exact left-semi join against the broadcast build side confirms.
    *    The build side is assumed selective, as for Spark's own runtime
    *    Bloom filter.
    *  - `use` gets the hit frame lazily; the build side is unpersisted once
    *    its result has been collected, or has failed.
    *
    * The confirm joins on null-safe equality, `probeKey <=> buildKey`.
    * Spark's `InferFiltersFromConstraints` copies a predicate across an
    * `=` between attributes, so with `=` the Bloom probe would also run
    * on the build side, whose rows built the filter and can only pass it.
    * It infers nothing across `<=>`. Both give the same rows here:
    * `graft_bloom_might_contain` returns NULL for a NULL key, so the
    * prefilter has already dropped every probe row that `<=>` could match
    * to a NULL build key.
    */
  def semi(probe: DataFrame, probeKey: String, build: DataFrame, buildKey: String,
      cfg: BloomConfig)(use: DataFrame => DataFrame): DataFrame = {
    val keys = build.select(col(buildKey).as(BuildKey)).persist()
    try {
      val sketch = keys.agg(NativeAggs.column(SketchKinds.Bloom(cfg), col(BuildKey))).scalar()
      val hits = probe
        .where(GraftFunctions.bloomMightContain(sketch, col(probeKey)))
        .join(broadcast(keys), col(probeKey) <=> col(BuildKey), "left_semi")
      Frames.materialize(use(hits))
    } finally keys.unpersist()
  }
}
