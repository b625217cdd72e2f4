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
  *
  * `FusedTokensNative`'s buffer is sparse until dense is smaller: it holds
  * the token ids it has seen (4 bytes each) until that would exceed the
  * dense bloom + HLL + CMS bytes of its config, and only then allocates
  * and fills the sketches. Small partial groups therefore shuffle their
  * ids, and hashing happens where a buffer densifies (usually the final
  * aggregate), still once per token. Output bytes do not depend on where.
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

/** Mutable fused buffer, sparse until dense is smaller (the HLL++
  * sparse→dense rule of Heule–Nunkesser–Hall 2013, applied to the whole
  * bloom + HLL + CMS buffer).
  *
  * Sparse (`bloom == null`): `ids(0 until n)` holds the non-null token ids
  * seen so far, duplicates kept (the CMS counts multiplicity). All three
  * sketches depend only on the multiset of inserted tokens (inserts
  * commute; union is OR / max / add), so deferring the inserts changes no
  * output byte. Dense: `bloom`/`hll`/`cms` hold the sketches and `ids` is
  * only the staging area for one row. h64/hi/lo are the hash-gather
  * scratch of the insert kernel, at most [[FusedTokensNative.InsertChunk]]
  * long (transient by construction: deserialize recreates them empty). */
final class FusedNativeBuf {
  var ids: Array[Int] = Array.emptyIntArray
  var n: Int = 0
  var bloom: Array[Long] = null
  var hll: Array[Byte] = null
  var cms: Array[Long] = null
  val scratch = new Array[Long](2)
  var h64: Array[Long] = Array.emptyLongArray
  var hi: Array[Long] = Array.emptyLongArray
  var lo: Array[Long] = Array.emptyLongArray

  def isDense: Boolean = bloom != null

  /** Room for `need` ids; doubling growth is capped at `limit`, so a
    * sparse buffer never holds more than `limit` slots. */
  def ensureIds(need: Int, limit: Int): Unit =
    if (ids.length < need)
      ids = java.util.Arrays.copyOf(ids, math.max(need, math.min(math.max(16, 2 * ids.length), limit)))

  def ensureGather(need: Int): Unit =
    if (h64.length < need) {
      val cap = math.min(FusedTokensNative.InsertChunk, math.max(need, math.max(64, h64.length * 2)))
      h64 = new Array[Long](cap); hi = new Array[Long](cap); lo = new Array[Long](cap)
    }
}

/** `graft_fused_tokens_native(tokens)` -> struct(bloom, hll, cms) binaries;
  * the flagship build kernel, valid for every `SketchJob.JobConfig`.
  *
  * The buffer stays sparse (token ids, 4 bytes each) while that is smaller
  * than the dense sketches ([[sparseLimit]] ids, derived from the config)
  * and densifies past it. A partial group that sees a few thousand tokens
  * therefore crosses the shuffle as its ids, not as ~119 KB of sketch (the
  * `DefaultConfig` size). Hashing happens where a buffer densifies — in
  * the final aggregate or `eval` for small groups, in the partial for
  * large ones — and still once per token: one 64-bit hash (bloom, HLL) and
  * one 128-bit hash (CMS, and a bloom whose 6k + log2l > 64). */
case class FusedTokensNative(
    child: Expression,
    k: Int, log2l: Int, hllP: Int, cmsDepth: Int, cmsLog2Width: Int, k0: Long, k1: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TokensAggBase[FusedNativeBuf] {

  @transient private lazy val bloomCfg = BloomConfig(k0, k1, k, log2l)
  @transient private lazy val cmsCfg = CmsConfig(k0, k1, cmsDepth, cmsLog2Width)

  /** Bytes of the dense buffer: bloom words + HLL registers + CMS counters. */
  @transient lazy val denseBytes: Long = 8L * (1L << log2l) + (1L << hllP) + 8L * cmsCfg.bufferLen

  /** The most ids a buffer holds sparse: one more and 4 bytes per id exceed
    * the dense form (29,698 at `SketchJob.DefaultConfig`). */
  @transient lazy val sparseLimit: Int = math.min(denseBytes / 4, Int.MaxValue - 16L).toInt

  override def prettyName: String = "graft_fused_tokens_native"
  override def dataType: DataType = StructType(Seq(
    StructField("bloom", BinaryType, nullable = false),
    StructField("hll", BinaryType, nullable = false),
    StructField("cms", BinaryType, nullable = false)))

  override def createAggregationBuffer(): FusedNativeBuf = new FusedNativeBuf

  override def update(buf: FusedNativeBuf, input: InternalRow): FusedNativeBuf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val m = a.numElements()
      if (!buf.isDense && buf.n + m > sparseLimit) densify(buf)
      buf.ensureIds(buf.n + m, sparseLimit)
      var n = buf.n
      var i = 0
      while (i < m) {
        if (!a.isNullAt(i)) { buf.ids(n) = a.getInt(i); n += 1 }
        i += 1
      }
      if (buf.isDense) { insert(buf, buf.ids, n); n = 0 }
      buf.n = n
    }
    buf
  }

  override def merge(b1: FusedNativeBuf, b2: FusedNativeBuf): FusedNativeBuf =
    if (!b2.isDense) { addIds(b1, b2.ids, b2.n); b1 }
    else if (!b1.isDense) { insert(b2, b1.ids, b1.n); b2 }
    else {
      BlockedBloom.unionInPlace(b1.bloom, b2.bloom)
      Hll.merge(b1.hll, b2.hll)
      CountMin.merge(b1.cms, b2.cms)
      b1
    }

  override def eval(buf: FusedNativeBuf): Any = {
    if (!buf.isDense) densify(buf)
    InternalRow(
      BlockedBloom.toBytes(buf.bloom, bloomCfg, BlockedBloom.TypeTag.Int),
      Hll.toBytes(buf.hll, hllP, BlockedBloom.TypeTag.Int, SipHash.hashLong(k0, k1, k0 ^ k1)),
      CountMin.toBytes(buf.cms, cmsCfg, BlockedBloom.TypeTag.Int))
  }

  /** Sparse form: `~n` (negative, where the dense form starts with its
    * positive bloom word count) then the n ids, 4 + 4n bytes. Dense form:
    * bloom and CMS lengths, bloom words, HLL registers, CMS counters.
    * Both are little-endian and internal to the shuffle. */
  override def serialize(buf: FusedNativeBuf): Array[Byte] =
    if (!buf.isDense) {
      val bb = ByteBuffer.allocate(4 + 4 * buf.n).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(~buf.n)
      bb.asIntBuffer().put(buf.ids, 0, buf.n)
      bb.array()
    } else {
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
    val head = bb.getInt()
    val buf = new FusedNativeBuf
    if (head < 0) {
      val n = ~head
      require(bytes.length == 4L + 4L * n, s"sparse fused buffer of $n ids has ${bytes.length} bytes")
      buf.ids = new Array[Int](n)
      bb.asIntBuffer().get(buf.ids)
      buf.n = n
    } else {
      val nCms = bb.getInt()
      buf.bloom = new Array[Long](head)
      bb.asLongBuffer().get(buf.bloom)
      bb.position(bb.position() + 8 * head)
      buf.hll = new Array[Byte](bytes.length - 8 - 8 * head - 8 * nCms)
      bb.get(buf.hll)
      buf.cms = new Array[Long](nCms)
      bb.asLongBuffer().get(buf.cms)
    }
    buf
  }

  /** Adds ids(0 until n) to `buf`: appended while the result stays within
    * [[sparseLimit]], inserted into the dense sketches otherwise. */
  private def addIds(buf: FusedNativeBuf, ids: Array[Int], n: Int): Unit = {
    if (!buf.isDense && buf.n + n > sparseLimit) densify(buf)
    if (buf.isDense) insert(buf, ids, n)
    else {
      buf.ensureIds(buf.n + n, sparseLimit)
      System.arraycopy(ids, 0, buf.ids, buf.n, n)
      buf.n += n
    }
  }

  /** Allocates the dense sketches and inserts the held ids into them. */
  private def densify(buf: FusedNativeBuf): Unit = {
    buf.bloom = new Array[Long](1 << log2l)
    buf.hll = Hll.empty(hllP)
    buf.cms = CountMin.empty(cmsCfg)
    val ids = buf.ids
    val n = buf.n
    buf.ids = Array.emptyIntArray
    buf.n = 0
    insert(buf, ids, n)
  }

  /** The insert kernel of `update`, `merge` and densify: ids(0 until n)
    * into the dense sketches of `buf`, [[FusedTokensNative.InsertChunk]]
    * ids at a time.
    *
    * STRUCTURE-AT-A-TIME passes (optimization r07): hashes are gathered
    * once per chunk, then each sketch is updated in its own tight loop —
    * the interleaved per-token form touched ~8 random locations across a
    * bloom+HLL+CMS working set of ~200 KB per group every token; the split
    * loops keep one structure (and for CMS one 16 KB depth row) hot at a
    * time. Every per-token operation is commutative (bloom OR, HLL max,
    * CMS add), so the reordering is byte-identical — asserted by the
    * native≡udaf identity tests. */
  private def insert(buf: FusedNativeBuf, ids: Array[Int], n: Int): Unit = {
    buf.ensureGather(math.min(n, FusedTokensNative.InsertChunk))
    val width = cmsCfg.width
    val mask = cmsCfg.widthMask
    var off = 0
    while (off < n) {
      val cnt = math.min(FusedTokensNative.InsertChunk, n - off)
      var i = 0
      while (i < cnt) {
        val t = ids(off + i)
        buf.h64(i) = SipHash.hashInt(k0, k1, t)
        SipHash.hash128IntInto(k0, k1, t, buf.scratch)
        buf.hi(i) = buf.scratch(0)
        buf.lo(i) = buf.scratch(1)
        i += 1
      }
      i = 0
      if (bloomCfg.hash64Enough)
        while (i < cnt) { BlockedBloom.insertHash64(buf.bloom, bloomCfg, buf.h64(i)); i += 1 }
      else // 6k + log2l > 64: the 128-bit hashes gathered for the CMS feed the bloom too
        while (i < cnt) { BlockedBloom.insertHash128(buf.bloom, bloomCfg, buf.hi(i), buf.lo(i)); i += 1 }
      i = 0
      while (i < cnt) { Hll.addHash(buf.hll, hllP, buf.h64(i)); i += 1 }
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
      off += cnt
    }
    buf.cms(cmsCfg.depth * width) += n.toLong
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FusedTokensNative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FusedTokensNative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FusedTokensNative =
    copy(child = newChild)
}

object FusedTokensNative {
  /** Ids hashed per structure-at-a-time pass: bounds the gather scratch to
    * 24 KB per dense buffer however many ids a densify inserts. */
  final val InsertChunk = 1024
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
