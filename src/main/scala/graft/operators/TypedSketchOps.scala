package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.core.{BloomConfig, CmsConfig, Keys}
import graft.plans.{GraftFunctions, NativeAggs}
import graft.sources.Tokens.TokenRow

/** Typed `Dataset[TokenRow]` façade over the sketch builds — compile-time
  * field checking for pipelines that model the input-hint row as a case
  * class (SURVEY.md §1.2: `Dataset[T]` where type safety helps, `DataFrame`
  * where schema is dynamic). Same physical plans as the DataFrame surface:
  * the build is one native `SketchAgg` over [[SketchKinds.FusedTokens]]
  * (which rejects a bloom and CMS under different SipHash keys), the probe
  * the native `graft_bloom_might_contain` expression.
  */
object TypedSketchOps {

  final case class SourceSketches(
      source: String,
      bloom: Array[Byte],
      hll: Array[Byte],
      cms: Array[Byte],
      n_rows: Long,
      n_tokens: Long)

  /** Per-source fused sketches from a typed token Dataset. */
  def perSourceSketches(
      tokens: Dataset[TokenRow],
      bloomCfg: BloomConfig = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 12),
      hllP: Int = 12,
      cmsCfg: CmsConfig = CmsConfig(Keys.DefaultK0, Keys.DefaultK1, 5, 11)): Dataset[SourceSketches] = {
    implicit val outEnc = ExpressionEncoder[SourceSketches]()
    val fused = NativeAggs.column(SketchKinds.FusedTokens(bloomCfg, hllP, cmsCfg), col("tokens"))
    tokens.toDF()
      .groupBy(col("source"))
      .agg(
        fused.as("sk"),
        count(lit(1)).as("n_rows"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .select(
        col("source"),
        col("sk.bloom").as("bloom"),
        col("sk.hll").as("hll"),
        col("sk.cms").as("cms"),
        col("n_rows"),
        col("n_tokens"))
      .as[SourceSketches]
  }

  /** Typed probe: how many of each row's tokens are present in its source's
    * sketch (demonstrates joining typed results back onto typed input). The
    * whole token array is probed in one `filter` with no explode; a null
    * token array counts 0 (coalesced before `size`, whose null result
    * depends on `spark.sql.legacy.sizeOfNull`). */
  def probeOwnSource(tokens: Dataset[TokenRow], sketches: Dataset[SourceSketches]): DataFrame = {
    tokens.toDF()
      .join(broadcast(sketches.toDF().select(col("source"), col("bloom"))), "source")
      .withColumn("n_present", size(filter(coalesce(col("tokens"), typedLit(Array.empty[Int])),
        t => GraftFunctions.bloomMightContain(col("bloom"), t))).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("n_present"))
  }
}
