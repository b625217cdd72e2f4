package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._

import graft.core._

/** Native Catalyst aggregates over `tokens: array<int>` columns.
  *
  * The `functions.udaf` wrapper pays a per-row decode: Catalyst's
  * `ArrayData` is deserialized into a fresh JVM `Array[Int]` before
  * `Aggregator.reduce` sees it. These `TypedImperativeAggregate`s read the
  * `ArrayData` in place (`getInt(i)` on the unsafe array backed by the
  * columnar batch) — no per-row allocation or copy, the tightest build
  * loop Spark's aggregation framework allows without custom codegen.
  * Outputs are byte-identical to the udaf-based aggregators (tested), so
  * the two surfaces interoperate freely. `SketchJob` runs on these: one
  * `FusedTokensNative` per (bucket, source) in the increment, one
  * [[SketchMergeNative]] per sketch column in finalize.
  */
abstract class TokensAggBase[B] extends TypedImperativeAggregate[B] with UnaryLike[Expression] {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<int>, got $t")
    }
  override def nullable: Boolean = false
}

/** `graft_bloom_tokens_native(tokens)` -> serialized blocked Bloom filter. */
case class BloomTokensNative(
    child: Expression,
    k: Int, log2l: Int, k0: Long, k1: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TokensAggBase[Array[Long]] {

  @transient private lazy val cfg = BloomConfig(k0, k1, k, log2l)

  override def prettyName: String = "graft_bloom_tokens_native"
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](1 << log2l)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      var i = 0
      if (cfg.hash64Enough) {
        while (i < n) {
          if (!a.isNullAt(i))
            BlockedBloom.insertHash64(buf, cfg, SipHash.hashInt(k0, k1, a.getInt(i)))
          i += 1
        }
      } else {
        val scratch = new Array[Long](2) // allocation-free 128-bit path
        while (i < n) {
          if (!a.isNullAt(i)) {
            SipHash.hash128IntInto(k0, k1, a.getInt(i), scratch)
            BlockedBloom.insertHash128(buf, cfg, scratch(0), scratch(1))
          }
          i += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    BlockedBloom.unionInPlace(b1, b2)

  override def eval(buf: Array[Long]): Any =
    BlockedBloom.toBytes(buf, cfg, BlockedBloom.TypeTag.Int)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomTokensNative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomTokensNative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomTokensNative =
    copy(child = newChild)
}

/** Mutable fused buffer (bloom words + hll registers + cms counters).
  * The h64/hi/lo arrays are per-row hash-gather scratch for the
  * structure-at-a-time update loop (transient by construction: deserialize
  * recreates them empty; update grows them to the largest row seen). */
final class FusedNativeBuf(val bloom: Array[Long], val hll: Array[Byte], val cms: Array[Long], val scratch: Array[Long]) {
  var h64: Array[Long] = Array.emptyLongArray
  var hi: Array[Long] = Array.emptyLongArray
  var lo: Array[Long] = Array.emptyLongArray
  def ensureGather(n: Int): Unit =
    if (h64.length < n) {
      val cap = math.max(n, math.max(64, h64.length * 2))
      h64 = new Array[Long](cap); hi = new Array[Long](cap); lo = new Array[Long](cap)
    }
}

/** `graft_fused_tokens_native(tokens)` -> struct(bloom, hll, cms) binaries.
  * One ArrayData read + two hashes per token (64-bit for bloom and HLL,
  * 128-bit for CMS, and for a bloom whose 6k + log2l > 64); the flagship
  * build kernel, valid for every `SketchJob.JobConfig`. */
case class FusedTokensNative(
    child: Expression,
    k: Int, log2l: Int, hllP: Int, cmsDepth: Int, cmsLog2Width: Int, k0: Long, k1: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TokensAggBase[FusedNativeBuf] {

  @transient private lazy val bloomCfg = BloomConfig(k0, k1, k, log2l)
  @transient private lazy val cmsCfg = CmsConfig(k0, k1, cmsDepth, cmsLog2Width)

  override def prettyName: String = "graft_fused_tokens_native"
  override def dataType: DataType = StructType(Seq(
    StructField("bloom", BinaryType, nullable = false),
    StructField("hll", BinaryType, nullable = false),
    StructField("cms", BinaryType, nullable = false)))

  override def createAggregationBuffer(): FusedNativeBuf =
    new FusedNativeBuf(new Array[Long](1 << log2l), Hll.empty(hllP),
      CountMin.empty(cmsCfg), new Array[Long](2))

  override def update(buf: FusedNativeBuf, input: InternalRow): FusedNativeBuf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      // STRUCTURE-AT-A-TIME passes (optimization r07): hashes are gathered
      // once per row, then each sketch is updated in its own tight loop —
      // the interleaved per-token form touched ~8 random locations across
      // a bloom+HLL+CMS working set of ~200 KB per group every token; the
      // split loops keep one structure (and for CMS one 16 KB depth row)
      // hot at a time. Every per-token operation is commutative (bloom OR,
      // HLL max, CMS add), so the reordering is byte-identical — asserted
      // by the existing native≡udaf identity tests.
      buf.ensureGather(n)
      var cnt = 0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val t = a.getInt(i)
          buf.h64(cnt) = SipHash.hashInt(k0, k1, t)
          SipHash.hash128IntInto(k0, k1, t, buf.scratch)
          buf.hi(cnt) = buf.scratch(0)
          buf.lo(cnt) = buf.scratch(1)
          cnt += 1
        }
        i += 1
      }
      i = 0
      if (bloomCfg.hash64Enough)
        while (i < cnt) { BlockedBloom.insertHash64(buf.bloom, bloomCfg, buf.h64(i)); i += 1 }
      else // 6k + log2l > 64: the 128-bit hashes gathered for the CMS feed the bloom too
        while (i < cnt) { BlockedBloom.insertHash128(buf.bloom, bloomCfg, buf.hi(i), buf.lo(i)); i += 1 }
      i = 0
      while (i < cnt) { Hll.addHash(buf.hll, hllP, buf.h64(i)); i += 1 }
      val width = cmsCfg.width
      val mask = cmsCfg.widthMask
      var j = 0
      while (j < cmsCfg.depth) {
        val rowOff = j * width
        i = 0
        while (i < cnt) {
          buf.cms(rowOff + ((buf.lo(i) + j * (buf.hi(i) | 1L)) & mask).toInt) += 1L
          i += 1
        }
        j += 1
      }
      buf.cms(cmsCfg.depth * width) += cnt.toLong
    }
    buf
  }

  override def merge(b1: FusedNativeBuf, b2: FusedNativeBuf): FusedNativeBuf = {
    BlockedBloom.unionInPlace(b1.bloom, b2.bloom)
    Hll.merge(b1.hll, b2.hll)
    CountMin.merge(b1.cms, b2.cms)
    b1
  }

  override def eval(buf: FusedNativeBuf): Any =
    InternalRow(
      BlockedBloom.toBytes(buf.bloom, bloomCfg, BlockedBloom.TypeTag.Int),
      Hll.toBytes(buf.hll, hllP, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1)),
      CountMin.toBytes(buf.cms, cmsCfg, BlockedBloom.TypeTag.Int))

  override def serialize(buf: FusedNativeBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.bloom.length + buf.hll.length + 8 * buf.cms.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(buf.bloom.length).putInt(buf.cms.length)
    bb.asLongBuffer().put(buf.bloom)
    bb.position(bb.position() + 8 * buf.bloom.length)
    bb.put(buf.hll)
    bb.asLongBuffer().put(buf.cms)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FusedNativeBuf = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nBloom = bb.getInt()
    val nCms = bb.getInt()
    val bloom = new Array[Long](nBloom)
    bb.asLongBuffer().get(bloom)
    bb.position(bb.position() + 8 * nBloom)
    val hll = new Array[Byte](bytes.length - 8 - 8 * nBloom - 8 * nCms)
    bb.get(hll)
    val cms = new Array[Long](nCms)
    bb.asLongBuffer().get(cms)
    new FusedNativeBuf(bloom, hll, cms, new Array[Long](2))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FusedTokensNative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FusedTokensNative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FusedTokensNative =
    copy(child = newChild)
}

/** Native merge over serialized sketches (`binary` column), wrapping one
  * of the bytes -> bytes merge `Aggregator`s (`BloomMergeAgg`,
  * `HllBytesMergeAgg`, `CmsBytesMergeAgg`): their validation, cross-size
  * fold and empty-payload convention are reused as is. Unlike the `udaf`
  * wrapper, the buffer crosses the shuffle in the sketch's own wire format
  * (`serialize = finish`, `deserialize = reduce(zero, _)`), not through an
  * encoder round trip. */
case class SketchMergeNative[B](
    child: Expression,
    agg: Aggregator[Array[Byte], B, Array[Byte]],
    name: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def prettyName: String = name
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects binary, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): B = agg.zero
  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf else agg.reduce(buf, v.asInstanceOf[Array[Byte]])
  }
  override def merge(b1: B, b2: B): B = agg.merge(b1, b2)
  override def eval(buf: B): Any = agg.finish(buf)
  override def serialize(buf: B): Array[Byte] = agg.finish(buf)
  override def deserialize(bytes: Array[Byte]): B = agg.reduce(agg.zero, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMergeNative[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMergeNative[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchMergeNative[B] =
    copy(child = newChild)
}

/** Registration of the native aggregates (SQL + call_function Column API).
  *
  * NOTE: registration is session-global and last-wins — a second
  * `register` on the same session rebinds the function names to the new
  * sketch parameters. Components sharing a session and needing different
  * configs should pass them per call:
  * `graft_bloom_tokens_native(tokens, k, log2l)`.
  */
object NativeAggs {
  import graft.core.Keys

  val BloomName = "graft_bloom_tokens_native"
  val FusedName = "graft_fused_tokens_native"
  val BloomMergeName = "graft_bloom_merge"
  val HllMergeName = "graft_hll_merge"
  val CmsMergeName = "graft_cms_merge"

  def bloomMerge(sk: Expression, k0: Long, k1: Long): SketchMergeNative[_] =
    SketchMergeNative(sk, new graft.operators.SketchAggs.BloomMergeAgg(k0, k1), BloomMergeName)
  def hllMerge(sk: Expression): SketchMergeNative[_] =
    SketchMergeNative(sk, new graft.jobs.HllBytesMergeAgg, HllMergeName)
  def cmsMerge(sk: Expression): SketchMergeNative[_] =
    SketchMergeNative(sk, new graft.jobs.CmsBytesMergeAgg, CmsMergeName)

  /** SQL builders (`GraftFunctions.nativeExpressions`) for
    * `graft_bloom_merge(sk)` (default keys), `graft_hll_merge(sk)` and
    * `graft_cms_merge(sk)`. */
  private[plans] val mergeBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Expression => Expression)](
      BloomMergeName -> (bloomMerge(_, Keys.DefaultK0, Keys.DefaultK1)),
      HllMergeName -> (hllMerge(_)),
      CmsMergeName -> (cmsMerge(_))
    ).map { case (name, make) =>
      name -> ((exprs: Seq[Expression]) => exprs match {
        case Seq(e) => make(e)
        case _ => throw new IllegalArgumentException(s"$name expects (sketch BINARY)")
      })
    }

  /** A native aggregate as a `Column`, with no session registration: the
    * parameters travel in the expression, not in a session-global name. */
  def column(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(f.toAggregateExpression())

  def register(spark: org.apache.spark.sql.SparkSession,
      bloomK: Int = graft.SketchQueries.bloomCfg.k,
      bloomLog2l: Int = graft.SketchQueries.bloomCfg.log2l,
      hllP: Int = graft.SketchQueries.hllP,
      cmsDepth: Int = graft.SketchQueries.cmsCfg.depth,
      cmsLog2Width: Int = graft.SketchQueries.cmsCfg.log2Width,
      k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      BloomName,
      {
        case Seq(e) => BloomTokensNative(e, bloomK, bloomLog2l, k0, k1).toAggregateExpression()
        case Seq(e, Literal(kk: Int, IntegerType), Literal(ll: Int, IntegerType)) =>
          BloomTokensNative(e, kk, ll, k0, k1).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"$BloomName expects (tokens array<int>) or (tokens, k INT, log2l INT); got ${other.length} arguments")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FusedName,
      {
        case Seq(e) =>
          FusedTokensNative(e, bloomK, bloomLog2l, hllP, cmsDepth, cmsLog2Width, k0, k1)
            .toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"$FusedName expects exactly (tokens array<int>); got ${other.length} arguments")
      },
      "built-in")
  }

  def bloomTokensNative(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(BloomName, tokens)

  def fusedTokensNative(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(FusedName, tokens)
}
