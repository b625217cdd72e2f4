package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

import graft.core._

/** Typed Dataset `Aggregator`s for the Bloom, HLL and count-min token
  * builds: independent byte references for the native aggregates.
  *
  * The library builds every sketch, the fused bloom + HLL + CMS build
  * included, with the native `graft.plans.SketchAgg` (one [[SketchKind]]
  * per sketch).
  * These three are written against the core kernels directly, element by
  * element through `functions.udaf`, so tests can compare the native
  * outputs with a second implementation, and the repository benchmark
  * measures the udaf path through them. Buffers are native arrays;
  * `reduce`/`merge` mutate and return their left argument.
  */
object SketchAggs {

  private def longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  private def byteArrayEnc: Encoder[Array[Byte]] = Encoders.BINARY

  /** Bloom over a column of token arrays (`tokens: array<int>`): every
    * element of every array is inserted. OUT = serialized filter bytes. */
  final class BloomTokensAgg(cfg: BloomConfig) extends Aggregator[Array[Int], Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](cfg.l)
    override def reduce(buf: Array[Long], tokens: Array[Int]): Array[Long] = {
      if (tokens != null) {
        var i = 0
        while (i < tokens.length) { BlockedBloom.insertInt(buf, cfg, tokens(i)); i += 1 }
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BlockedBloom.unionInPlace(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** HLL distinct-count over token arrays (distinct token ids). */
  final class HllTokensAgg(k0: Long, k1: Long, p: Int) extends Aggregator[Array[Int], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Hll.empty(p)
    override def reduce(buf: Array[Byte], tokens: Array[Int]): Array[Byte] = {
      if (tokens != null) {
        var i = 0
        while (i < tokens.length) { Hll.addHash(buf, p, SipHash.hashInt(k0, k1, tokens(i))); i += 1 }
      }
      buf
    }
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = Hll.merge(b1, b2)
    override def finish(buf: Array[Byte]): Array[Byte] =
      Hll.toBytes(buf, p, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1))
    override def bufferEncoder: Encoder[Array[Byte]] = byteArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }

  /** Count-min over token arrays: one increment per token occurrence. */
  final class CmsTokensAgg(cfg: CmsConfig) extends Aggregator[Array[Int], Array[Long], Array[Byte]] {
    override def zero: Array[Long] = CountMin.empty(cfg)
    override def reduce(buf: Array[Long], tokens: Array[Int]): Array[Long] = {
      if (tokens != null) {
        val scratch = new Array[Long](2) // one alloc per row, not per token
        var i = 0
        while (i < tokens.length) {
          SipHash.hash128IntInto(cfg.k0, cfg.k1, tokens(i), scratch)
          CountMin.addHash(buf, cfg, scratch(1), scratch(0) | 1L)
          i += 1
        }
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = CountMin.merge(b1, b2)
    override def finish(buf: Array[Long]): Array[Byte] =
      CountMin.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)
    override def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    override def outputEncoder: Encoder[Array[Byte]] = byteArrayEnc
  }
}
