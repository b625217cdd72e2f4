package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge}

import graft.core._
import graft.operators.{SketchInput, SketchKind}

/** Native Catalyst aggregates: [[SketchAgg]], the one aggregate every
  * sketch build and merge runs on, and [[FusedTokensNative]], the fused
  * bloom + HLL + CMS build kernel of `SketchJob`'s increment.
  *
  * Both are `TypedImperativeAggregate`s that read Catalyst values in place
  * (`getInt(i)` on the unsafe `ArrayData`, `UTF8String` bytes), with no
  * per-row decode into JVM objects, and ship their buffers through the
  * shuffle in a compact binary form.
  *
  * `FusedTokensNative`'s buffer is sparse until dense is smaller: it holds
  * the token ids it has seen (4 bytes each) until that would exceed the
  * dense bloom + HLL + CMS bytes of its config, and only then allocates
  * and fills the sketches. Small partial groups therefore shuffle their
  * ids, and hashing happens where a buffer densifies (usually the final
  * aggregate), still once per token. Output bytes do not depend on where.
  */

/** The one native sketch aggregate: runs a [[SketchKind]] as a build or
  * as a merge.
  *
  * Mode rule, fixed at analysis time by the first child's type:
  *  - `binary` is merge mode. Each non-null, non-empty payload is decoded
  *    with the kind's validated `fromBytes` and merged in. A group with no
  *    payload evaluates to `Array.emptyByteArray`, so chained merge levels
  *    never feed a decoder an empty payload.
  *  - Any other type the kind accepts is a build: each non-null row is
  *    added with `update`, from the kind's empty sketch, whose element type
  *    tag comes from the input type. A group with no rows evaluates to the
  *    empty sketch's bytes. An optional second integral child is the row
  *    weight; a null weight skips the row.
  * Unsupported types fail in `checkInputDataTypes`; `expected` pins the one
  * input a SQL name takes (`graft_hll_merge` only merges).
  *
  * Partial buffers cross the shuffle and the streaming state store in the
  * sketch's own wire format (`serialize = toBytes`, `deserialize =
  * fromBytes`), never through kryo or an encoder; an empty merge buffer
  * serializes to zero bytes.
  */
case class SketchAgg(
    name: String,
    kind: SketchKind[_ <: AnyRef],
    children: Seq[Expression],
    expected: Option[SketchInput] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[AnyRef] {

  private def k: SketchKind[AnyRef] = kind.asInstanceOf[SketchKind[AnyRef]]
  @transient private lazy val value: Expression = children.head
  @transient private lazy val weight: Option[Expression] = children.lift(1)
  @transient private lazy val input: SketchInput = kind.inputOf(value.dataType).get

  /** Whether this aggregate merges serialized sketches. */
  @transient lazy val isMerge: Boolean = input == SketchInput.Sketches

  override def prettyName: String = name
  override def dataType: DataType = kind.dataType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
    val got = children.headOption.map(_.dataType.catalogString).getOrElse("")
    if (children.isEmpty || children.length > 2) fail(s"takes 1 or 2 arguments, got ${children.length}")
    else kind.inputOf(children.head.dataType) match {
      case None => fail(s"does not accept $got")
      case Some(in) if expected.exists(_ != in) => fail(s"expects ${expected.get.sqlType}, got $got")
      case Some(SketchInput.Sketches) if children.length == 2 => fail("a merge takes one binary argument")
      case Some(SketchInput.Sketches) => TypeCheckResult.TypeCheckSuccess
      case Some(_) if children.length == 2 && !kind.acceptsWeight => fail("takes no weight argument")
      case Some(_) if children.length == 2 && !SketchInput.isIntegral(children(1).dataType) =>
        fail(s"weight must be integral, got ${children(1).dataType.catalogString}")
      case Some(_) if children.length == 1 && kind.requiresWeight => fail("requires a weight argument")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def createAggregationBuffer(): AnyRef = if (isMerge) null else k.empty(input)

  override def update(buf: AnyRef, row: InternalRow): AnyRef = {
    val v = value.eval(row)
    if (v == null) buf
    else if (isMerge) {
      val x = v.asInstanceOf[Array[Byte]]
      if (x.isEmpty) buf else merge(buf, k.fromBytes(x))
    } else weight match {
      case None => k.update(buf, input, v, 1L)
      case Some(we) =>
        val w = we.eval(row)
        if (w == null) buf else k.update(buf, input, v, SketchInput.longOf(w))
    }
  }

  override def merge(a: AnyRef, b: AnyRef): AnyRef =
    if (a == null) b else if (b == null) a else k.merge(a, b)

  override def eval(buf: AnyRef): Any = if (buf == null) Array.emptyByteArray else k.eval(buf)
  override def serialize(buf: AnyRef): Array[Byte] =
    if (buf == null) Array.emptyByteArray else k.toBytes(buf)
  override def deserialize(x: Array[Byte]): AnyRef = if (x.isEmpty) null else k.fromBytes(x)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchAgg =
    copy(children = newChildren)
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
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FusedNativeBuf] with UnaryLike[Expression] {

  @transient private lazy val bloomCfg = BloomConfig(k0, k1, k, log2l)
  @transient private lazy val cmsCfg = CmsConfig(k0, k1, cmsDepth, cmsLog2Width)

  /** Bytes of the dense buffer: bloom words + HLL registers + CMS counters. */
  @transient lazy val denseBytes: Long = 8L * (1L << log2l) + (1L << hllP) + 8L * cmsCfg.bufferLen

  /** The most ids a buffer holds sparse: one more and 4 bytes per id exceed
    * the dense form (29,698 at `SketchJob.DefaultConfig`). */
  @transient lazy val sparseLimit: Int = math.min(denseBytes / 4, Int.MaxValue - 16L).toInt

  override def prettyName: String = "graft_fused_tokens_native"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<int>, got $t")
  }
  override def nullable: Boolean = false
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

  /** The fused build over `tokens` as a `Column`, its sketch parameters in
    * the expression (the SipHash key is `bloom`'s). */
  def column(tokens: Column, bloom: BloomConfig, hllP: Int, cms: CmsConfig): Column =
    NativeAggs.column(FusedTokensNative(GraftColumnBridge.expression(tokens),
      bloom.k, bloom.log2l, hllP, cms.depth, cms.log2Width, bloom.k0, bloom.k1))
}


/** Registration of the native aggregates and their Column-API entry points.
  *
  * Every `graft_*` SQL aggregate name is in [[sqlAggregates]], which
  * `GraftFunctions.nativeExpressions` serves to both `GraftFunctions.register`
  * and the `GraftExtensions` injector. Each name keeps its arity and
  * defaults: Bloom k = 3, log2l = 12; HLL p = 12; CMS 5 x 2^11; KMV
  * k = 256; samples k = 64; heavy hitters capacity 64; KLL k = 200;
  * t-digest compression 100; all under `Keys.DefaultK0/K1`, the key
  * `graft_bloom_pack` merges a repeated key's filters under.
  *
  * NOTE: `register` is session-global and last-wins — it rebinds
  * `graft_bloom_tokens_native` / `graft_fused_tokens_native` to its sketch
  * parameters, and [[bloomTokensNative]] / [[fusedTokensNative]] build
  * what the active session binds. The library itself never calls it:
  * its jobs pass their parameters per call (`FusedTokensNative.column`,
  * [[column]]), so they never change a binding.
  */
object NativeAggs {
  import graft.core.Keys
  import graft.operators.SketchKinds._
  import SketchInput._

  val BloomName = "graft_bloom_tokens_native"
  val FusedName = "graft_fused_tokens_native"
  val BloomPackName = "graft_bloom_pack"

  /** A native aggregate as a `Column`, with no session registration: the
    * parameters travel in the expression, not in a session-global name. */
  def column(f: AggregateFunction): Column = GraftColumnBridge.column(f.toAggregateExpression())

  /** [[SketchAgg]] over `kind` as a `Column`: `inputs` is the value column
    * (serialized sketches for a merge) and, where the kind takes one, a
    * weight column. */
  def column(kind: SketchKind[_ <: AnyRef], inputs: Column*): Column =
    column(SketchAgg(kind.name, kind, inputs.map(GraftColumnBridge.expression)))

  private def sql(name: String, kind: SketchKind[_ <: AnyRef], in: SketchInput,
      arity: Int): (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument(s) (${in.sqlType}${if (arity == 2) ", weight BIGINT" else ""}); " +
          s"got ${exprs.length}")
      SketchAgg(name, kind, exprs, Some(in))
    }

  private def bloomNative(k: Int, log2l: Int, k0: Long, k1: Long): Seq[Expression] => Expression = {
    case Seq(e) => SketchAgg(BloomName, Bloom(BloomConfig(k0, k1, k, log2l)), Seq(e), Some(Tokens))
    case Seq(e, Literal(kk: Int, IntegerType), Literal(ll: Int, IntegerType)) =>
      SketchAgg(BloomName, Bloom(BloomConfig(k0, k1, kk, ll)), Seq(e), Some(Tokens))
    case other => throw new IllegalArgumentException(
      s"$BloomName expects (tokens array<int>) or (tokens, k INT, log2l INT); got ${other.length} arguments")
  }

  private def fusedNative(bloomK: Int, bloomLog2l: Int, hllP: Int, cmsDepth: Int, cmsLog2Width: Int,
      k0: Long, k1: Long): Seq[Expression] => Expression = {
    case Seq(e) => FusedTokensNative(e, bloomK, bloomLog2l, hllP, cmsDepth, cmsLog2Width, k0, k1)
    case other => throw new IllegalArgumentException(
      s"$FusedName expects exactly (tokens array<int>); got ${other.length} arguments")
  }

  /** Every SQL aggregate name with its builder (defaults in the header;
    * the two `*_native` names take `register`'s defaults). */
  private[plans] def sqlAggregates: Seq[(String, Seq[Expression] => Expression)] = {
    val (k0, k1) = (Keys.DefaultK0, Keys.DefaultK1)
    val bloom = Bloom(BloomConfig(k0, k1, 3, 12))
    val hll = HllKind(k0, k1, 12)
    val cms = Cms(CmsConfig(k0, k1, 5, 11))
    val kmv = KmvKind(k0, k1, 256)
    val kll = KllKind(200)
    val tdigest = TDigestKind(100)
    val hh = HeavyHitters(64)
    val sample = Sample(k0, k1, 64, weighted = false)
    val sampleW = Sample(k0, k1, 64, weighted = true)
    val strSample = StringSample(k0, k1, 64, weighted = false)
    val strSampleW = StringSample(k0, k1, 64, weighted = true)
    def q = graft.SketchQueries // read per call: no object-initialization cycle
    Seq(
      sql("graft_bloom_tokens", bloom, Tokens, 1),
      sql("graft_bloom_merge", bloom, Sketches, 1),
      sql("graft_bloom_tokens_newcount", BloomNewCount(bloom.cfg), Tokens, 1),
      sql("graft_hll_tokens", hll, Tokens, 1),
      sql("graft_hll_merge", hll, Sketches, 1),
      sql("graft_cms_tokens", cms, Tokens, 1),
      sql("graft_cms_merge", cms, Sketches, 1),
      sql("graft_kmv_tokens", kmv, Tokens, 1),
      sql("graft_kmv_long", kmv, Longs, 1),
      sql("graft_kmv_merge", kmv, Sketches, 1),
      sql("graft_kll", kll, Doubles, 1),
      sql("graft_kll_merge", kll, Sketches, 1),
      sql("graft_tdigest", tdigest, Doubles, 1),
      sql("graft_tdigest_merge", tdigest, Sketches, 1),
      sql("graft_heavyhitter", hh, Longs, 1),
      sql("graft_heavyhitter_weighted", hh, Longs, 2),
      sql("graft_heavyhitter_merge", hh, Sketches, 1),
      sql("graft_sample_bottomk", sample, Longs, 1),
      sql("graft_sample_merge", sample, Sketches, 1),
      sql("graft_sample_bottomk_str", strSample, Strings, 1),
      sql("graft_sample_str_merge", strSample, Sketches, 1),
      sql("graft_sample_weighted", sampleW, Longs, 2),
      sql("graft_sample_weighted_merge", sampleW, Sketches, 1),
      sql("graft_sample_weighted_str", strSampleW, Strings, 2),
      sql("graft_sample_weighted_str_merge", strSampleW, Sketches, 1),
      BloomPackName -> {
        case Seq(key, sketch) =>
          SketchAgg(BloomPackName, BloomPack(k0, k1), Seq(CreateStruct(Seq(key, sketch))), Some(KeyedSketches))
        case other => throw new IllegalArgumentException(
          s"$BloomPackName expects (key STRING, sketch BINARY); got ${other.length} arguments")
      },
      BloomName -> (e => bloomNative(q.bloomCfg.k, q.bloomCfg.log2l, k0, k1)(e)),
      FusedName -> (e => fusedNative(q.bloomCfg.k, q.bloomCfg.log2l, q.hllP, q.cmsCfg.depth,
        q.cmsCfg.log2Width, k0, k1)(e)))
  }

  /** Rebinds `graft_bloom_tokens_native` and `graft_fused_tokens_native` on
    * `spark` to these sketch parameters (see the NOTE above). */
  def register(spark: org.apache.spark.sql.SparkSession,
      bloomK: Int = graft.SketchQueries.bloomCfg.k,
      bloomLog2l: Int = graft.SketchQueries.bloomCfg.log2l,
      hllP: Int = graft.SketchQueries.hllP,
      cmsDepth: Int = graft.SketchQueries.cmsCfg.depth,
      cmsLog2Width: Int = graft.SketchQueries.cmsCfg.log2Width,
      k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(BloomName, bloomNative(bloomK, bloomLog2l, k0, k1), "built-in")
    registry.createOrReplaceTempFunction(FusedName,
      fusedNative(bloomK, bloomLog2l, hllP, cmsDepth, cmsLog2Width, k0, k1), "built-in")
  }

  /** `name`'s aggregate over `tokens` as the active session binds it
    * (`register`'s parameters), else with the library defaults. */
  private def bound(name: String, tokens: Column): Column = {
    val registered = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(name))
    val build = registered.getOrElse(sqlAggregates.toMap.apply(name))
    column(build(Seq(GraftColumnBridge.expression(tokens))).asInstanceOf[AggregateFunction])
  }

  def bloomTokensNative(tokens: Column): Column = bound(BloomName, tokens)

  def fusedTokensNative(tokens: Column): Column = bound(FusedName, tokens)
}
