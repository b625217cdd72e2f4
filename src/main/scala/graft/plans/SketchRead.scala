package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.execution

import graft.operators.SketchReader

/** Decodes a sketch ONCE per distinct byte array through a small
  * content-verified LRU: the key is a sampled hash, and a hit is trusted
  * only after a full `Arrays.equals`, so the cache never returns the wrong
  * sketch. `load` gets the cache's own copy of the bytes, which it may
  * keep. Thread-safety follows Spark's per-task expression deserialization:
  * one instance per task, single-threaded by construction.
  */
private[plans] final class ReaderCache[S <: AnyRef](load: Array[Byte] => S) extends Serializable {
  @transient private lazy val cache =
    new java.util.LinkedHashMap[Long, (Array[Byte], S)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, (Array[Byte], S)]): Boolean =
        size() > 64
    }

  private def sampleKey(bytes: Array[Byte]): Long = {
    val n = bytes.length
    var h = 0xcbf29ce484222325L ^ n.toLong
    var i = 0
    while (i < n) { h = (h ^ bytes(i)) * 0x100000001b3L; i += math.max(1, n / 64) }
    h
  }

  def get(bytes: Array[Byte]): S = {
    val key = sampleKey(bytes)
    val hit = cache.get(key)
    if (hit != null && java.util.Arrays.equals(hit._1, bytes)) hit._2
    else {
      val copy = bytes.clone()
      val loaded = load(copy)
      cache.put(key, (copy, loaded))
      loaded
    }
  }
}

/** The one native expression behind every SQL read function over
  * serialized sketches (the [[graft.operators.SketchReader]]s of
  * `SketchKinds.readers`): estimates, pairwise set estimates, summaries,
  * samples, the KMV and Bloom set functions and the Bloom probes.
  *
  * `children` are the reader's sketch arguments, then its value
  * arguments. The reader fixes the types, checked at analysis, and the
  * result type; it is bound once to the value arguments' types. Per row:
  * any NULL argument gives NULL; with `emptyIsNull`, an empty payload
  * (what the serialized merges return for no rows) gives NULL; otherwise
  * each sketch is decoded and the reader computes the answer.
  *
  * Load-once rule (the model is Spark's `BloomFilterMightContain` over a
  * runtime-filter subquery): a constant sketch argument — a literal, an
  * uncorrelated scalar subquery (`frame.agg(…).scalar()`), or a read
  * function over those — is evaluated and decoded once per expression
  * instance, when first needed, and never re-evaluated per row. A
  * foldable one is validated in `checkInputDataTypes`, so a corrupt or
  * mistyped literal fails at analysis; a corrupt subquery value fails the
  * query with the decoder's `IllegalArgumentException`. Any other payload
  * is decoded once per distinct value (one [[ReaderCache]] per sketch
  * argument, so two alternating inputs do not evict each other).
  * Generated code is one direct call on this instance, or, for a reader
  * with `readCode` over a constant sketch, a direct call on the decoded
  * sketch; either way the readers run in whole-stage codegen.
  */
case class SketchRead(fn: SketchReader[_ <: AnyRef], children: Seq[Expression]) extends Expression {

  private def sketchArgs: Seq[Expression] = children.take(fn.sketches)
  private def valueArgs: Seq[Expression] = children.drop(fn.sketches)

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.emptyIsNull || children.exists(_.nullable)
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"${fn.name}: $msg")
    if (children.length != fn.arity) fail(s"expects (${fn.signature}), got ${children.length} arguments")
    else sketchArgs.find(_.dataType != BinaryType) match {
      case Some(e) => fail(s"sketch arguments must be BINARY, got ${e.dataType.catalogString}")
      case None => valueArgs.zip(fn.values).find { case (e, ts) => !ts.contains(e.dataType) } match {
        case Some((e, ts)) =>
          fail(s"value argument must be ${ts.map(_.catalogString).mkString(" or ")}, " +
            s"got ${e.dataType.catalogString}")
        case None => sketchArgs.zip(constants).collectFirst(Function.unlift {
          case (e, c) if c != null && e.foldable =>
            try { c.decoded; None } catch { case ex: IllegalArgumentException => Some(fail(ex.getMessage)) }
          case _ => None
        }).getOrElse(TypeCheckResult.TypeCheckSuccess)
      }
    }
  }

  /** The reader bound to the value arguments' types. */
  @transient private lazy val bound: SketchReader[AnyRef] =
    fn.bind(valueArgs.map(_.dataType)).asInstanceOf[SketchReader[AnyRef]]

  /** Per sketch argument: its [[SketchRead.Constant]], or null for a
    * payload that varies per row. */
  @transient private lazy val constants: Array[SketchRead.Constant] = sketchArgs.map { e =>
    if (SketchRead.isConstant(e)) new SketchRead.Constant(e, bound.decode) else null
  }.toArray

  /** `children`, each constant sketch argument replaced by its value. */
  @transient private lazy val perRow: Seq[Expression] = children.indices.map { i =>
    if (i < fn.sketches && constants(i) != null) Literal(constants(i).bytes, BinaryType) else children(i)
  }

  @transient private lazy val caches = Array.fill(fn.sketches)(new ReaderCache[AnyRef](bound.decode))

  private def load(i: Int, x: Array[Byte]): AnyRef = {
    val c = constants(i)
    if (c != null) c.decoded else if (x.isEmpty) null else caches(i).get(x)
  }

  /** One row of non-null arguments: `b` is null for a one-sketch reader,
    * `v` and `w` where there is no such value argument. */
  def read(a: Array[Byte], b: Array[Byte], v: Any, w: Any): Any =
    if (fn.emptyIsNull && (a.isEmpty || (b != null && b.isEmpty))) null
    else bound.read(load(0, a), if (b == null) null else load(1, b), v, w)

  override def eval(input: InternalRow): Any = {
    val args = perRow.map(_.eval(input))
    if (args.contains(null)) null
    else read(args.head.asInstanceOf[Array[Byte]],
      if (fn.sketches == 2) args(1).asInstanceOf[Array[Byte]] else null,
      args.lift(fn.sketches).orNull, args.lift(fn.sketches + 1).orNull)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // a one-sketch constant that decodes, with a direct form: the per-row
    // code reads the value arguments only and calls the decoded sketch
    // (never throw here: a bad payload takes the generic call, which throws)
    val d = if (fn.sketches > 1 || constants(0) == null) null else scala.util.Try(constants(0).decoded).getOrElse(null)
    val direct = bound.readCode.filter(_ => d != null).map { code =>
      val ref = ctx.addReferenceObj("sketch", d, d.getClass.getName)
      val vs = valueArgs.map(_.genCode(ctx))
      (vs, code(ref, vs.map(_.value.toString)))
    }
    val (args, call) = direct.getOrElse {
      val self = ctx.addReferenceObj("sketchRead", this, classOf[SketchRead].getName)
      val args = perRow.map(_.genCode(ctx))
      val b = if (fn.sketches == 2) args(1).value.toString else "null"
      val vs = args.drop(fn.sketches).map(_.value.toString).padTo(2, "null")
      (args, s"$self.read(${args.head.value}, $b, ${vs.mkString(", ")})")
    }
    val result = ctx.freshName("read")
    val anyNull = if (args.isEmpty) "false" else args.map(_.isNull.toString).mkString(" || ")
    ev.copy(code =
      code"""
        ${args.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)}
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!($anyNull)) {
          Object $result = $call;
          if ($result != null) {
            ${ev.isNull} = false;
            ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
          }
        }""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchRead =
    copy(children = newChildren)
}

object SketchRead {

  /** Whether `e` reads no input column and gives one value per query:
    * deterministic, with only literals and planned scalar subqueries as
    * leaves (a subquery is planned only once it is uncorrelated, and has
    * run before the expression that holds it executes). */
  private def isConstant(e: Expression): Boolean = e.deterministic && e.collectLeaves().forall {
    case _: Literal | _: execution.ScalarSubquery => true
    case _ => false
  }

  /** A constant sketch argument's value and decode, each computed once,
    * when first needed (a decode that throws throws again at its next
    * use): null for a NULL or empty payload. */
  private final class Constant(e: Expression, decode: Array[Byte] => AnyRef) {
    lazy val bytes: Array[Byte] = e.eval(null).asInstanceOf[Array[Byte]]
    lazy val decoded: AnyRef = if (bytes == null || bytes.isEmpty) null else decode(bytes)
  }

  /** SQL fractional literals parse as DECIMAL: a DOUBLE value argument
    * takes int, bigint, float and decimal too, cast (never a string). */
  private def asDouble(e: Expression): Expression = e.dataType match {
    case _: DecimalType | FloatType | IntegerType | LongType => Cast(e, DoubleType)
    case _ => e
  }

  /** `fn` over `args`, each DOUBLE value argument folded by [[asDouble]]. */
  def of(fn: SketchReader[_ <: AnyRef], args: Seq[Expression]): SketchRead =
    SketchRead(fn, args.take(fn.sketches) ++ args.drop(fn.sketches).zipAll(fn.values, null, Nil).collect {
      case (e, ts) if e != null => if (ts == Seq(DoubleType)) asDouble(e) else e
    })

  /** `fn` over `args` as a `Column`, with no session registration. */
  def column(fn: SketchReader[_ <: AnyRef], args: Seq[Column]): Column =
    GraftColumnBridge.column(of(fn, args.map(GraftColumnBridge.expression)))

  /** The SQL builder of `fn`: its arguments, then optional `k0, k1`
    * integer literals for a reader with keys. */
  def builder(fn: SketchReader[_ <: AnyRef])(exprs: Seq[Expression]): Expression = {
    val keys = exprs.drop(fn.arity).map(GraftFunctions.keyLit)
    val read =
      if (exprs.length == fn.arity) fn
      else if (fn.keys.isDefined && keys.length == 2 && keys.forall(_.isDefined)) fn.withKeys(keys(0).get, keys(1).get)
      else throw new IllegalArgumentException(s"${fn.name} expects (${fn.signature})")
    of(read, exprs.take(fn.arity))
  }
}
