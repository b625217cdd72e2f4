package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, TypedImperativeAggregate}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge}

import graft.core._
import graft.operators.{SketchInput, SketchKind}

/** Native Catalyst aggregation: [[SketchAgg]], the one aggregate every
  * sketch build and merge runs on (the fused bloom + HLL + CMS build of
  * `SketchJob`'s increment included, as `SketchKinds.FusedTokens`), and
  * [[NativeAggs]], its SQL names and Column entry points. `SketchAgg`
  * reads Catalyst values in place (`getInt(i)` on the unsafe `ArrayData`,
  * `UTF8String` bytes), with no per-row decode into JVM objects.
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
  * its jobs pass their parameters per call (`column(FusedTokens(…),
  * tokens)`), so they never change a binding.
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
    case Seq(e) => SketchAgg(FusedName, FusedTokens(BloomConfig(k0, k1, bloomK, bloomLog2l), hllP,
      CmsConfig(k0, k1, cmsDepth, cmsLog2Width)), Seq(e), Some(Tokens))
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
    val sample = Sample(k0, k1, 64, weighted = false, BottomK.LongValues)
    val sampleW = Sample(k0, k1, 64, weighted = true, BottomK.LongValues)
    val strSample = Sample(k0, k1, 64, weighted = false, BottomK.StringValues)
    val strSampleW = Sample(k0, k1, 64, weighted = true, BottomK.StringValues)
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
